"""Incremental (cross-batch) curation: planted exact/near dups across
batches, chain transitivity through dropped docs, bridge behavior, and
equality with single-batch processing when arrival order matches the
rank order."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccer.streaming.curation import CurationState, curate_batch


def _doc(tag, words):
    return f"{tag} " + " ".join(words)


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

    b1 = spark.createDataFrame(
        [("a_base", _doc("a", base)), ("a_other", _doc("a", other))],
        "name string, text string",
    )
    b2 = spark.createDataFrame(
        [
            ("b_near1", _doc("a", near1)),          # near-dup of a_base
            ("b_exact", _doc("a", other)),          # exact dup of a_other
            ("b_fresh", _doc("b", vocab[200:280])),
        ],
        "name string, text string",
    )
    b3 = spark.createDataFrame(
        [("c_near2", _doc("a", near2))],            # near-dup of b_near1 ONLY
        "name string, text string",
    )

    s1, st = curate_batch(spark, None, b1)
    assert {r["name"] for r in s1.collect()} == {"a_base", "a_other"}

    s2, st = curate_batch(spark, st, b2)
    # near-dup of a prior survivor and exact dup of a prior text both drop
    assert {r["name"] for r in s2.collect()} == {"b_fresh"}

    s3, st = curate_batch(spark, st, b3)
    # c_near2 matches only b_near1 — which was DROPPED in batch 2; its
    # buckets+sigs in state map it to a_base's component, so the chain
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

    dfs = [
        spark.createDataFrame(rows, "name string, text string")
        for rows in batches_rows
    ]

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

    b1 = spark.createDataFrame(
        [("x", _doc("a", x)), ("y", _doc("a", y))], "name string, text string"
    )
    s1, st = curate_batch(spark, None, b1)
    assert s1.count() == 2           # x and y both emitted (J below threshold)

    s2, st = curate_batch(
        spark, st, spark.createDataFrame([("m", _doc("a", m))], "name string, text string")
    )
    # the bridge drops; x and y stay emitted (cannot unship), but their
    # components are merged for the future: one relabel row
    assert s2.count() == 0
    assert st.relabels.count() == 1

    s3, st = curate_batch(
        spark, st, spark.createDataFrame([("n", _doc("a", n))], "name string, text string")
    )
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
        surv, st = curate_batch(
            spark, st, spark.createDataFrame(rows, "name string, text string")
        )
        for r in surv.collect():
            survivors.add(r["id"])
            names[r["name"]] = r["id"]
        sigs = {r["id"]: np.array(r["sig"]) for r in st.sigs.collect()}
        want = _union_find_relabels(sigs, survivors)
        got = {r["old_label"]: r["new_label"] for r in st.relabels.collect()}
        assert got == want
        sizes.append(len(got))
    assert set(names) == {"a", "b", "c", "fresh"}        # both bridges drop
    assert sizes == [0, 1, 2]
    assert got == {names["b"]: names["a"], names["c"]: names["a"]}


def test_stream_curate_end_to_end(spark, tmp_path, vocab):
    """File-source streaming curation: two files → two curated appends,
    persisted state, cross-file dedup. A second availableNow pass with a
    third file resumes from the saved state (exact dup of file-1 text
    still drops)."""
    from ccer.streaming.curation import load_state, stream_curate

    input_dir = str(tmp_path / "in")
    workdir = str(tmp_path / "wd")
    base = _doc("a", vocab[:60])
    other = _doc("b", vocab[60:120])
    spark.createDataFrame(
        [("u1", base, "en"), ("u2", other, "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "html", F.lit(None).cast("binary")
    ).select("url", "warc_ts", "html", "text", "lang").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    q = stream_curate(spark, input_dir, workdir)
    q.awaitTermination(180)
    out1 = spark.read.parquet(workdir + "/curated")
    assert out1.count() == 2

    # second run: one exact dup of file 1 + one fresh doc
    spark.createDataFrame(
        [("u3", base, "en"), ("u4", _doc("c", vocab[120:180]), "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "html", F.lit(None).cast("binary")
    ).select("url", "warc_ts", "html", "text", "lang").coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    q = stream_curate(spark, input_dir, workdir)
    q.awaitTermination(180)
    out2 = spark.read.parquet(workdir + "/curated")
    assert out2.count() == 3                       # u3 deduped against u1
    assert {r["url"] for r in out2.collect()} == {"u1", "u2", "u4"}
    st = load_state(spark, workdir + "/curation_state")
    assert st.next_id == 4 and st.seen.count() == 4

    # state persisted by an older build must REFUSE to load: a pre-v2
    # build (64-bit sigs, no version stamp) wrote sigs/buckets that never
    # match new ones, so a silent resume would miss near-duplicates of
    # pre-upgrade docs; a v3 build wrote buckets as (bucket, id), which
    # lacks the block_keys columns the probe reads.
    import json
    import os

    import pytest

    meta_path = os.path.join(workdir, "curation_state", "_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    from ccer.streaming.curation import _STATE_FORMAT_VERSION

    assert meta["format_version"] == _STATE_FORMAT_VERSION
    stale = dict(meta)
    del stale["format_version"]  # pre-versioning state had only next_id
    with open(meta_path, "w") as fh:
        json.dump(stale, fh)
    with pytest.raises(ValueError, match="format_version=1"):
        load_state(spark, workdir + "/curation_state")
    with open(meta_path, "w") as fh:
        json.dump(dict(meta, format_version=3), fh)
    with pytest.raises(ValueError, match="format_version=3"):
        load_state(spark, workdir + "/curation_state")
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
