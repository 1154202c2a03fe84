"""Incremental (cross-batch) curation: planted exact/near dups across
batches, chain transitivity through dropped docs, bridge behavior, and
equality with single-batch processing when arrival order matches the
rank order."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccer.streaming.curation import curate_batch


def _doc(tag, words):
    return f"{tag} " + " ".join(words)


def _pages(spark, rows):
    """(url, text) rows → a pages batch (url, lang, text)."""
    return spark.createDataFrame(
        [(url, "en", text) for url, text in rows], "url string, lang string, text string"
    )


@pytest.fixture(scope="module")
def vocab():
    rng = np.random.RandomState(5)
    return [f"tok{i}" for i in rng.permutation(500)]


def test_cross_batch_dedup_and_chain(spark, vocab):
    base = vocab[:80]
    near1 = list(base)
    near1[10], near1[40] = "chg1a", "chg1b"        # near-dup of base
    near2 = list(near1)
    near2[20], near2[60] = "chg2a", "chg2b"        # near-dup of near1
    other = vocab[100:180]

    b1 = _pages(spark, [("a_base", _doc("a", base)), ("a_other", _doc("a", other))])
    b2 = _pages(
        spark,
        [
            ("b_near1", _doc("a", near1)),          # near-dup of a_base
            ("b_exact", _doc("a", other)),          # exact dup of a_other
            ("b_fresh", _doc("b", vocab[200:280])),
        ],
    )
    b3 = _pages(spark, [("c_near2", _doc("a", near2))])  # near-dup of b_near1 ONLY

    s1, st = curate_batch(spark, None, b1)
    assert {r["url"] for r in s1.collect()} == {"a_base", "a_other"}

    s2, st = curate_batch(spark, st, b2)
    # near-dup of a prior survivor and exact dup of a prior text both drop
    assert {r["url"] for r in s2.collect()} == {"b_fresh"}

    s3, st = curate_batch(spark, st, b3)
    # c_near2 matches only b_near1 — which was DROPPED in batch 2; its
    # sigs and comps rows in state map it to a_base's component, so the chain
    # still closes and c_near2 drops (batch-mode equivalence)
    assert s3.count() == 0


def test_incremental_equals_single_batch(spark, vocab):
    """Prefix texts so arrival order == rank order; then the incremental
    survivors must equal single-batch survivors EXACTLY (same texts)."""
    rng = np.random.RandomState(9)
    batches_rows = []
    for tag in ("a", "b", "c"):
        rows = []
        for i in range(12):
            words = list(rng.choice(vocab, size=60))
            rows.append((f"{tag}{i}", _doc(tag, words)))
        batches_rows.append(rows)
    # plant cross-batch dups: batch b near-dups two batch-a docs, batch c
    # exact-dups one batch-b doc
    wa = batches_rows[0][0][1].split(" ")
    wa[5] = "mutb"
    batches_rows[1][3] = ("b_nd0", " ".join(["b"] + wa[1:]))
    batches_rows[2][5] = ("c_xd", batches_rows[1][1][1])

    dfs = [_pages(spark, rows) for rows in batches_rows]

    st = None
    inc_texts = set()
    for df in dfs:
        surv, st = curate_batch(spark, st, df)
        inc_texts |= {r["text"] for r in surv.collect()}

    union = dfs[0].unionByName(dfs[1]).unionByName(dfs[2])
    single, _ = curate_batch(spark, None, union)
    single_texts = {r["text"] for r in single.collect()}
    assert inc_texts == single_texts


def test_bridge_merges_for_future_not_retroactively(spark, vocab):
    """A doc bridging two previously-emitted survivors cannot retract
    them (online), but the merge must apply to all FUTURE matching via
    the relabel table."""
    x = list(vocab[:80])
    y = list(x)
    for j, pos in enumerate((5, 15, 25, 35, 45, 55, 65, 75)):
        y[pos] = f"ymut{j}"          # J(x,y) ≈ 0.53 — distinct survivors
    m = list(x)
    for pos in (15, 25, 35, 45):
        m[pos] = y[pos]              # halfway: near-dup of BOTH x and y
                                     # (est 0.719 to each, deterministic)
    n = list(y)
    n[0], n[70] = "nmutA", "nmutB"   # near-dup of y only

    b1 = _pages(spark, [("x", _doc("a", x)), ("y", _doc("a", y))])
    s1, st = curate_batch(spark, None, b1)
    assert s1.count() == 2           # x and y both emitted (J below threshold)

    s2, st = curate_batch(spark, st, _pages(spark, [("m", _doc("a", m))]))
    # the bridge drops; x and y stay emitted (cannot unship), but their
    # components are merged for the future: one relabel row
    assert s2.count() == 0
    assert st.relabels.count() == 1

    s3, st = curate_batch(spark, st, _pages(spark, [("n", _doc("a", n))]))
    # n matches only y, whose label relabels into x's merged component —
    # n must drop exactly as batch mode over the union would drop it
    assert s3.count() == 0


def _union_find_relabels(sigs, survivors, threshold=0.7):
    """Oracle for the ``relabels`` table: union every pair of state
    signatures whose estimated Jaccard reaches ``threshold`` (min id as
    the root), and map each emitted survivor's label to its root."""
    parent = {i: i for i in sigs}

    def find(i):
        while parent[i] != i:
            i = parent[i]
        return i

    ids = sorted(sigs)
    for n, i in enumerate(ids):
        for j in ids[n + 1:]:
            if (sigs[i] == sigs[j]).mean() >= threshold:
                ri, rj = find(i), find(j)
                parent[max(ri, rj)] = min(ri, rj)
    return {s: find(s) for s in survivors if find(s) != s}


def test_relabels_equal_union_find_over_two_bridges(spark, vocab):
    """Three batches, two bridges that chain: batch 2's m1 merges c and b
    (b → c), batch 3's m2 merges a with b's merged component (c → a), so
    the compressed relabels must send b straight to a. After every batch
    ``relabels`` equals a union-find over the state's signatures."""
    base = list(vocab[:80])

    def mutate(words, positions, name):
        out = list(words)
        for j, pos in enumerate(positions):
            out[pos] = f"{name}{j}"
        return out

    # a mutates position 0 to sort (and so get its arrival id) first;
    # a, b and c are pairwise below the threshold (est 0.48, 0.25, 0.60)
    a = mutate(base, (0, 10, 20, 30, 40, 50, 60, 70), "amut")
    c = mutate(base, (5, 15, 25, 35, 45, 55, 65, 75), "cmut")
    m1 = list(base)
    for pos in (15, 25, 35, 45):
        m1[pos] = c[pos]             # est 0.79 to b, 0.77 to c
    m2 = list(base)
    for pos in (40, 50, 60, 70):
        m2[pos] = a[pos]             # est 0.75 to a, 0.72 to b
    batches = [
        [("a", _doc("a", a)), ("b", _doc("a", base)), ("c", _doc("a", c))],
        [("m1", _doc("a", m1)), ("fresh", _doc("b", vocab[200:280]))],
        [("m2", _doc("a", m2))],
    ]

    st, survivors, names, sizes = None, set(), {}, []
    for rows in batches:
        surv, st = curate_batch(spark, st, _pages(spark, rows))
        for r in surv.collect():
            survivors.add(r["doc_id"])
            names[r["url"]] = r["doc_id"]
        sigs = {r["id"]: np.array(r["sig"]) for r in st.sigs.collect()}
        want = _union_find_relabels(sigs, survivors)
        got = {r["old_label"]: r["new_label"] for r in st.relabels.collect()}
        assert got == want
        sizes.append(len(got))
    assert set(names) == {"a", "b", "c", "fresh"}        # both bridges drop
    assert sizes == [0, 1, 2]
    assert got == {names["b"]: names["a"], names["c"]: names["a"]}


def _append_pages(spark, input_dir, rows):
    """Append one parquet file of (url, text) pages to a stream's input."""
    spark.createDataFrame(
        [(url, text, "en") for url, text in rows], "url string, text string, lang string"
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "html", F.lit(None).cast("binary")
    ).select("url", "warc_ts", "html", "text", "lang").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)


def _run_stream(spark, input_dir, workdir):
    from ccer.streaming.curation import stream_curate

    stream_curate(spark, input_dir, workdir).awaitTermination(180)


def test_stream_curate_end_to_end(spark, tmp_path, vocab):
    """File-source streaming curation: two files → two committed batches,
    cross-file dedup. A second availableNow pass with a third file
    resumes from the committed state (exact dup of file-1 text still
    drops)."""
    import json
    import os

    from ccer.plans.curation_workflow import CurationConfig
    from ccer.streaming.curation import _STATE_FORMAT_VERSION, load_state, read_curated

    input_dir = str(tmp_path / "in")
    workdir = str(tmp_path / "wd")
    base = _doc("a", vocab[:60])
    other = _doc("b", vocab[60:120])
    _append_pages(spark, input_dir, [("u1", base), ("u2", other)])
    _run_stream(spark, input_dir, workdir)
    assert read_curated(spark, workdir).count() == 2

    # second run: one exact dup of file 1 + one fresh doc
    _append_pages(spark, input_dir, [("u3", base), ("u4", _doc("c", vocab[120:180]))])
    _run_stream(spark, input_dir, workdir)
    out = read_curated(spark, workdir)
    assert out.columns == ["doc_id", "url", "source", "lang", "text", "batch_id"]
    assert out.count() == 3                        # u3 deduped against u1
    assert {r["url"] for r in out.collect()} == {"u1", "u2", "u4"}
    st = load_state(spark, workdir)
    # u3's digest was seen in batch 1, so only u4's is added
    assert st.next_id == 4 and st.seen.count() == 3

    # a state written under another config or format version must REFUSE
    # to load: read as "no state" it would re-emit every earlier survivor,
    # and signatures of another format never match new ones
    with pytest.raises(ValueError, match="written under config"):
        load_state(spark, workdir, CurationConfig(minhash_threshold=0.5))
    manifest_path = os.path.join(workdir, "_manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    assert manifest["commit"]["format_version"] == _STATE_FORMAT_VERSION
    with open(manifest_path, "w") as fh:
        json.dump(dict(manifest, commit=dict(manifest["commit"], format_version=4)), fh)
    with pytest.raises(ValueError, match="format_version=4"):
        load_state(spark, workdir)
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)
    # a v4 state kept whole tables beside curation_state/_meta.json
    v4 = tmp_path / "v4" / "curation_state"
    v4.mkdir(parents=True)
    (v4 / "_meta.json").write_text(json.dumps({"next_id": 4, "format_version": 4}))
    with pytest.raises(ValueError, match="format_version=4"):
        load_state(spark, str(tmp_path / "v4"))


def test_stream_replay_after_failure_equals_uninterrupted_run(
    spark, tmp_path, vocab, monkeypatch
):
    """A batch that fails between two of its state writes — after its
    survivors are written — is replayed by the stream. The replay must
    equal an uninterrupted run of the same batches: the same survivors,
    no survivor written twice, the same state."""
    from ccer.sources.catalog import StageStore
    from ccer.streaming.curation import load_state, read_curated

    near = list(vocab[:60])
    near[7] = "mut"
    batches = [
        [("u1", _doc("a", vocab[:60])), ("u2", _doc("b", vocab[60:120]))],
        [
            ("u3", _doc("a", near)),                # near-dup of u1
            ("u4", _doc("c", vocab[120:180])),
            ("u5", _doc("b", vocab[60:120])),       # exact dup of u2
            ("u6", _doc("d", vocab[180:240])),
        ],
    ]

    def run(name, fail_batch=None):
        input_dir, workdir = str(tmp_path / name / "in"), str(tmp_path / name / "wd")
        for k, rows in enumerate(batches):
            _append_pages(spark, input_dir, rows)
            if k != fail_batch:
                _run_stream(spark, input_dir, workdir)
                continue
            write = StageStore.write

            def failing_write(store, df, stage, *args, **kwargs):
                if stage == "sigs":                 # after curated and seen
                    raise RuntimeError("injected failure")
                return write(store, df, stage, *args, **kwargs)

            with monkeypatch.context() as patch:
                patch.setattr(StageStore, "write", failing_write)
                with pytest.raises(Exception, match="injected failure"):
                    _run_stream(spark, input_dir, workdir)
            assert (tmp_path / name / "wd" / "batches" / "1" / "curated" / "_SUCCESS").exists()
            _run_stream(spark, input_dir, workdir)  # the stream replays batch 1
        return workdir

    clean, replayed = run("clean"), run("replayed", fail_batch=1)

    def same(a, b):
        return a.exceptAll(b).count() == 0 == b.exceptAll(a).count()

    out = read_curated(spark, replayed)
    assert {r["url"] for r in out.collect()} == {"u1", "u2", "u4", "u6"}
    assert same(out, read_curated(spark, clean))
    written = spark.read.parquet(str(tmp_path / "replayed" / "wd" / "batches" / "*" / "curated"))
    assert written.count() == out.count() == 4
    a, b = load_state(spark, clean), load_state(spark, replayed)
    assert a.next_id == b.next_id == 6
    for table in ("seen", "sigs", "comps", "relabels"):
        assert same(getattr(a, table), getattr(b, table)), table
