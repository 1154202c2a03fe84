"""Property tests for the curation operators whose semantics have no SQL
oracle (LSH paths) + sanity checks for the SQL-expressible ones."""

import pytest
from pyspark.sql import functions as F

from ccer.operators.ann import brute_force_topk, lsh_topk
from ccer.operators.dedup import (
    exact_dedup,
    exact_dedup_groups,
    minhash_neardup_pairs,
    simhash_neardup_pairs,
)
from ccer.operators.multimodal import binary_metadata, decode_images, sample_frames
from ccer.operators.textstats import detect_language, quality_features


@pytest.fixture(scope="module")
def corpus(spark):
    """Docs with planted exact + near duplicates."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest where tall trees grow near the river"
    )
    near = base.replace("quick", "quik").replace("lazy", "sleepy")
    other = (
        "completely different content about databases indexes queries "
        "optimizers joins aggregations windows partitions and shuffles"
    )
    rows = [
        (0, base, "en", "s0"),
        (1, base, "en", "s0"),          # exact dup of 0
        (2, near, "en", "s0"),          # near dup of 0
        (3, other, "en", "s1"),
        (4, other + " extra tail words here", "en", "s1"),  # near dup of 3
        (5, "der hund läuft nicht mit der katze und das ist ein problem für die stadt", "de", "s2"),
        (6, "le chat est dans la maison et il est pour le moment dans une boîte", "fr", "s2"),
        (7, "这是一个中文文档的例子没有空格", "zh", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string").cache()
    df.count()
    return df


def test_exact_dedup(spark, corpus):
    groups = exact_dedup_groups(corpus).collect()
    assert len(groups) == 1 and groups[0]["keep_id"] == 0 and groups[0]["n_dups"] == 2
    kept = exact_dedup(corpus)
    assert kept.columns == ["doc_id"]
    assert kept.count() == 7
    assert kept.filter(F.col("doc_id") == 1).count() == 0


def test_exact_dedup_survivor_row_intact_and_null_text(spark):
    """``exact_dedup`` returns the survivors' ids (min id per text); the
    deduplicated table is the input semi-joined to them, and that must
    give each survivor's FULL row (not a column mix across group
    members), keep every non-duplicated column value byte-identical,
    and treat NULL text as its own group (one NULL-text survivor).

    NULL handling is an INTENTIONAL semantics choice: a semi-join on
    ``[text, id]`` never matches NULL keys and would drop ALL NULL-text
    rows, while grouping on the text digest puts the NULLs in one group
    and keeps exactly one survivor. Keeping a row rather than silently
    deleting undecodable documents is the behavior a curation funnel
    wants — the quality gate downstream judges NULL text on its own
    terms."""
    rows = [
        (10, "same text", "en", "s-keep"),
        (11, "same text", "de", "s-drop"),
        (12, None, "fr", "s-null-a"),
        (13, None, "zh", "s-null-b"),
        (14, "unique", "en", "s-solo"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ids = exact_dedup(df)
    assert ids.columns == ["doc_id"]
    kept = df.join(ids, "doc_id", "left_semi")
    got = {r["doc_id"]: r for r in kept.collect()}
    assert set(got) == {10, 12, 14}
    # survivor carries ITS OWN ride-along columns, not the loser's
    assert got[10]["lang"] == "en" and got[10]["source"] == "s-keep"
    assert got[12]["lang"] == "fr" and got[12]["text"] is None
    # column order preserved for downstream schema stability
    assert kept.columns == df.columns


def test_minhash_neardup_finds_planted(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(corpus, est_threshold=0.4).collect()
    }
    assert (0, 1) in pairs  # exact
    assert (0, 2) in pairs or (1, 2) in pairs  # near
    assert not any({a, b} == {0, 3} for a, b in pairs)  # unrelated


def test_simhash_neardup_finds_planted(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(corpus, max_hamming=10).collect()
    }
    assert (0, 1) in pairs
    assert not any({a, b} == {0, 3} for a, b in pairs)


# (id_a, id_b, hamming) of ``simhash_neardup_pairs(max_hamming=6)`` over
# 200 synthetic pages, pinned from a signature pass that also built the
# MinHash signature and band keys
SIMHASH_PAIRS_200 = [
    (1307, 60172, 6), (1625, 91422, 4), (9084, 48085, 5), (9939, 55021, 6),
    (11128, 92472, 6), (11943, 24877, 5), (11943, 64177, 6), (11943, 74994, 5),
    (11943, 88284, 5), (11984, 12479, 5), (11984, 22259, 2), (12479, 22259, 5),
    (13620, 55331, 4), (23758, 50982, 5), (24877, 64177, 3), (24877, 74994, 2),
    (24877, 88284, 6), (26492, 40652, 5), (28348, 41007, 4), (31944, 74224, 5),
    (32029, 73800, 6), (32219, 64177, 2), (32219, 95106, 6), (35030, 52552, 4),
    (35719, 67202, 6), (35910, 72986, 5), (37570, 44663, 5), (39323, 48085, 5),
    (40722, 87952, 4), (44450, 86191, 5), (44450, 93767, 3), (48085, 71779, 4),
    (48085, 86566, 6), (48596, 58342, 6), (52830, 75334, 6), (64177, 74994, 3),
    (64177, 88284, 3), (64177, 95106, 4), (71779, 86566, 6), (74994, 88284, 6),
]


def test_simhash_neardup_pairs_pinned(spark):
    """The fingerprint-only signature pass behind ``simhash_neardup_pairs``
    finds exactly the pairs, with exactly the distances, of the full one."""
    from ccer.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 200, seed=42, with_labels=False)
    docs = pages.select((F.abs(F.xxhash64("url")) % 100000).alias("doc_id"), "text")
    got = sorted(tuple(r) for r in simhash_neardup_pairs(docs, max_hamming=6).collect())
    assert got == SIMHASH_PAIRS_200


def test_dedup_reads_er_signature_and_band_keys(spark, monkeypatch):
    """The dedup family is the ER near-dup core, not a copy of it:
    ``text_signatures`` gives every text the MinHash signature and
    SimHash of its normalized words' shingle hashes (composed here from
    the public kernels) and, on texts shorter than the features text_cap,
    its ER features ``simhash``; the MinHash block keys
    ``minhash_neardup_pairs`` generates pairs from are exactly
    ``block_keys`` over the features table's ``bands``."""
    import datetime

    import numpy as np

    import ccer.operators.dedup as dedup
    from ccer.functions.hashing import (
        hash64,
        minhash_from_hashes,
        shingle_hashes64,
        simhash_from_hashes,
    )
    from ccer.functions.normalize import normalize_text
    from ccer.operators.blocking import block_keys
    from ccer.operators.features import extract_features

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "The quick brown fox jumped over the lazy dog!",
        "Completely different: content about databases, joins and shuffles",
        "two words",
        "",
    ]
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(f"https://example.com/{i}", ts, t, "en") for i, t in enumerate(texts)],
        "url string, warc_ts timestamp, text string, lang string",
    )
    feats = extract_features(pages).cache()
    ids = {r["url"]: r["id"] for r in feats.select("url", "id").collect()}
    docs = spark.createDataFrame(
        [(ids[f"https://example.com/{i}"], t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )

    want = {}
    for i, t in enumerate(texts):
        words = (normalize_text(t) or "").split()
        if len(words) >= 3:
            sh = shingle_hashes64(words, 3)
        else:  # fewer words hash as one shingle, no words as none
            sh = np.array([hash64(" ".join(words))] if words else [], dtype=np.uint64)
        sig, fp = minhash_from_hashes(sh, num_perm=128), simhash_from_hashes(sh)
        sig32 = (sig >> np.uint64(32)).astype(np.uint32).view(np.int32)
        want[ids[f"https://example.com/{i}"]] = (
            sig32.tolist(),
            int(np.uint64(fp).astype(np.int64)),
        )
    got = {
        r["id"]: (list(r["sig"]), r["simhash"])
        for r in dedup.text_signatures(docs).collect()
    }
    assert got == want
    assert {r["id"]: r["simhash"] for r in feats.collect()} == {
        i: fp for i, (_, fp) in want.items()
    }

    grouped = []
    real = dedup.candidate_pairs

    def spy(blocks, **kwargs):
        grouped.append(blocks)
        return real(blocks, **kwargs)

    monkeypatch.setattr(dedup, "candidate_pairs", spy)
    dedup.minhash_neardup_pairs(docs).collect()
    got = grouped[0].select("id", "block_key")
    want = block_keys(feats, passes=("minhash",)).select("id", "block_key")
    assert got.count() == len(texts) * 32
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    feats.unpersist()


def test_lang_id(spark, corpus):
    got = {r["doc_id"]: r["lang_pred"] for r in detect_language(corpus).collect()}
    assert got[0] == "en" and got[5] == "de" and got[6] == "fr" and got[7] == "zh"


def test_quality_features(spark, corpus):
    got = {r["doc_id"]: r for r in quality_features(corpus).collect()}
    assert got[0]["quality_score"] > 0.5          # long fluent english
    assert got[7]["n_tokens"] == 1                # no-whitespace CJK
    assert 0.0 <= got[7]["quality_score"] <= 0.3


def test_ann_lsh_subset_of_brute_force_domain(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    # plant near neighbors: vec i+200 ≈ vec i for i < 20
    vecs[200:220] = vecs[:20] + 0.01 * rng.standard_normal((20, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=3)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in exact.filter(F.col("rank") == 1).collect()
    }
    for q in range(5):
        assert top1[q] == q + 200  # the planted twin wins
    approx = lsh_topk(emb, queries, k=3, n_rotations=6, n_planes=8)
    a_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in approx.filter(F.col("rank") == 1).collect()
    }
    # LSH must find the planted twin for most queries (recall, not exactness)
    hits = sum(1 for q in range(5) if a_top1.get(q) == q + 200)
    assert hits >= 4


def test_ivf_topk(spark):
    """IVF (KMeans coarse quantizer + nprobe inverted lists) finds the
    planted near-twin for every query: a twin at distance 0.01σ lands in
    the same (or a probed) centroid cell, so nprobe=4 of 8 lists must
    recover it. Also asserts determinism across two runs (fixed KMeans
    seed, stable-argsort probe ranking)."""
    import numpy as np

    from ccer.operators.ann import ivf_topk

    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((300, 16)).astype("float32")
    vecs[200:220] = vecs[:20] + 0.01 * rng.standard_normal((20, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4)
    a_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in out.filter(F.col("rank") == 1).collect()
    }
    hits = sum(1 for q in range(5) if a_top1.get(q) == q + 200)
    assert hits >= 4
    again = ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_multimodal_plumbing(spark):
    rows = [(f"u{i}", bytes([i]) * (10 + i)) for i in range(5)] + [("u_null", None)]
    df = spark.createDataFrame(rows, "url string, html binary")
    meta = {r["url"]: r for r in binary_metadata(df).collect()}
    assert meta["u0"]["n_bytes"] == 10 and len(meta["u1"]["sha256"]) == 64
    dec = {r["url"]: r for r in decode_images(df).collect()}
    assert dec["u2"]["decode_ok"] and dec["u2"]["width"] >= 64
    assert dec["u_null"]["decode_ok"] is False
    # determinism: same payload ⇒ same fake decode
    dec2 = {r["url"]: r for r in decode_images(df).collect()}
    assert dec == dec2
    frames = sample_frames(df, n_frames=3)
    assert frames.count() == 15  # 5 non-null payloads × 3 frames
    # real-codec path fails loudly, not silently
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_images(df, use_real_codecs=True).collect()


def test_yaml_scorer_backend(tmp_path):
    """YAML `scorer:` selects the scoring backend (hybrid or sql; any
    other name raises); --no-udf maps to sql. Every PipelineConfig /
    ScoringConfig parameter is settable from YAML, and YAML lists arrive
    as tuples."""
    from ccer.config import CcerConfig

    p = tmp_path / "cfg.yaml"
    p.write_text(
        "scorer: sql\nblock_cap: 99\ntext_cap: 1000\n"
        "host_hamming_prefilter: 12\nlev_band: [0.4, 0.8]\n"
    )
    cfg = CcerConfig.from_yaml(str(p))
    pc = cfg.pipeline
    assert pc.scoring.backend == "sql"
    assert pc.block_cap == 99
    assert pc.text_cap == 1000
    assert pc.host_hamming_prefilter == 12
    assert pc.scoring.lev_band == (0.4, 0.8)
    # default is the hybrid backend
    assert CcerConfig().pipeline.scoring.backend == "hybrid"
    # a removed backend or a misspelt one fails, rather than scoring
    # with hybrid
    for bad in ("python", "pyhton"):
        p.write_text(f"scorer: {bad}\n")
        with pytest.raises(ValueError, match="hybrid.*sql"):
            CcerConfig.from_yaml(str(p))


def test_repetition_and_c4(spark):
    """Gopher/C4 heuristics on crafted docs: a fully-templated doc scores
    dup_line_frac 0.5+, clean punctuated prose keeps, contaminated drops."""
    from ccer.operators.quality import c4_filters, repetition_signals

    rows = [
        (1, "same line\nsame line\nother\nsame line"),
        (2, "This is prose.\nIt continues here.\nAnd ends properly."),
        (3, "short"),
        (4, "lorem ipsum filler text here we go.\nMore text follows now."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert rep[1]["n_lines"] == 4 and rep[1]["n_distinct_lines"] == 2
    assert rep[1]["dup_line_frac"] == 0.5
    # 18 duplicated chars of 32 total line chars
    assert rep[1]["dup_line_char_frac"] == round(18 / 32, 6)
    assert rep[2]["dup_line_frac"] == 0.0
    c4 = {r["doc_id"]: r for r in c4_filters(df).collect()}
    assert c4[2]["keep"] and c4[2]["terminal_punct_frac"] == 1.0
    assert not c4[1]["keep"]  # no terminal punctuation
    assert c4[3]["flag_too_short"] and not c4[3]["keep"]
    assert c4[4]["flag_lorem"] and not c4[4]["keep"]


def test_pii_redact(spark):
    """Emails, +-prefixed phones, and IPv4s are redacted and counted;
    clean text passes through byte-identical with zero counts."""
    from ccer.operators.quality import pii_redact

    rows = [
        (1, "write a@b.co or c.d+tag@sub.example.org today"),
        (2, "call +1 415 555 0100 or +44 (0)20 7946 0958 now"),
        (3, "server at 10.0.0.1 and 192.168.255.254 responded"),
        (4, "no pii here, just text with numbers 12345"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["text_redacted"] == "write <EMAIL> or <EMAIL> today"
    assert out[2]["n_phones"] == 2 and out[2]["text_redacted"] == "call <PHONE> or <PHONE> now"
    assert out[3]["n_ips"] == 2 and out[3]["text_redacted"] == "server at <IP> and <IP> responded"
    assert out[4]["text_redacted"] == rows[3][1]
    assert out[4]["n_emails"] == out[4]["n_phones"] == out[4]["n_ips"] == 0


def test_winnow_guarantee(spark):
    """The winnowing contract: two docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint; disjoint-alphabet docs
    share none."""
    from ccer.operators.quality import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "completely different head " + shared + " and tail"),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnow_fingerprints(df, k=8, w=4)
    fps = {i: set() for i in (1, 2, 3)}
    for r in out.collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2], "shared 43-char substring must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_top_bigram(spark):
    from ccer.operators.quality import top_bigram_stats

    rows = [(1, "a b a b a b c"), (2, "x y"), (3, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in top_bigram_stats(df).collect()}
    # "a b" occurs 3 of 6 bigrams
    assert out[1]["top_bigram"] == "a b" and out[1]["top_bigram_count"] == 3
    assert out[1]["n_bigrams"] == 6 and out[1]["top_bigram_frac"] == 0.5
    assert out[2]["top_bigram"] == "x y" and out[2]["top_bigram_frac"] == 1.0
    assert 3 not in out  # single-token doc has no bigrams


def test_asof_join(spark):
    """Backward as-of: latest right at-or-before each left ts; equal
    timestamps ARE visible; no preceding right gives NULLs."""
    from datetime import datetime

    from ccer.operators.temporal import asof_join

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, t(5), 100, 1.0), (1, t(10), 101, 2.0), (1, t(2), 102, 3.0),
         (2, t(7), 200, 4.0)],
        "user_id long, ts timestamp, event_id long, value double",
    )
    right = spark.createDataFrame(
        [(1, t(3), 30.0), (1, t(10), 99.0), (2, t(8), 70.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert out[100]["r_value"] == 30.0 and out[100]["r_ts"] == t(3)
    assert out[101]["r_value"] == 99.0  # equal-ts right visible
    assert out[102]["r_value"] is None and out[102]["r_ts"] is None
    assert out[200]["r_value"] is None  # right at t(8) is AFTER t(7)


def test_range_join(spark):
    """Bucketed interval join equals the exact theta-join pair set, each
    pair exactly once (bucket fan-out produces no duplicates)."""
    from datetime import datetime

    from ccer.operators.temporal import range_join

    rows = []
    # user 1: events at minutes 0, 5, 9, 20, 21 — gaps test the 600 s
    # bound (5->9 = 240 s in-bound; 9->20 = 660 s out; 20->21 in)
    for eid, m in [(1, 0), (2, 5), (3, 9), (4, 20), (5, 21)]:
        rows.append((eid, datetime(2024, 1, 1, 0, m), 1, "e", 0.0))
    # user 2: same-ts tie -> one pair ordered by id
    rows += [(10, datetime(2024, 1, 1, 1, 0), 2, "e", 0.0),
             (11, datetime(2024, 1, 1, 1, 0), 2, "e", 0.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = [(r["user_id"], r["id_a"], r["id_b"], r["gap_sec"])
           for r in range_join(df, max_gap_sec=600).collect()]
    assert len(got) == len(set(got))  # uniqueness, no bucket duplicates
    assert sorted(got) == sorted([
        (1, 1, 2, 300), (1, 1, 3, 540), (1, 2, 3, 240), (1, 4, 5, 60),
        (2, 10, 11, 0),
    ])


def test_temporal_random_parity(spark):
    """Randomized parity: asof_join and range_join against brute-force
    pandas references on a seeded 400-row, 20-key batch (duplicate
    timestamps included — the tie semantics must hold under volume)."""
    import numpy as np
    import pandas as pd

    from ccer.operators.temporal import asof_join, range_join

    rng = np.random.RandomState(7)
    n = 400
    base = pd.Timestamp("2024-01-01").value // 10**9
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "sec": base + rng.randint(0, 3600, n),
            "user_id": rng.randint(0, 20, n),
            "value": np.round(rng.uniform(0, 10, n), 2),
        }
    )
    pdf["ts"] = pd.to_datetime(pdf["sec"], unit="s")
    df = spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "value"]],
        "event_id long, ts timestamp, user_id long, value double",
    )
    left = df.filter(F.col("event_id") % 2 == 0)
    right = (
        df.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    got = {
        r["event_id"]: (r["r_value"], r["r_ts"])
        for r in asof_join(left, right).collect()
    }
    rp = (
        pdf[pdf.event_id % 2 == 1]
        .groupby(["user_id", "sec"], as_index=False)["value"]
        .max()
    )
    for row in pdf[pdf.event_id % 2 == 0].itertuples():
        cand = rp[(rp.user_id == row.user_id) & (rp.sec <= row.sec)]
        if len(cand):
            best = cand.sort_values("sec").iloc[-1]
            assert got[row.event_id][0] == best["value"]
            assert int(got[row.event_id][1].timestamp()) == best["sec"]
        else:
            assert got[row.event_id] == (None, None)

    pairs = {
        (r["id_a"], r["id_b"]): r["gap_sec"]
        for r in range_join(df, max_gap_sec=300).collect()
    }
    expected = {}
    for u in range(20):
        sub = pdf[pdf.user_id == u]
        for x in sub.itertuples():
            for y in sub.itertuples():
                gap = y.sec - x.sec
                if (0 < gap <= 300) or (gap == 0 and x.event_id < y.event_id):
                    expected[(x.event_id, y.event_id)] = gap
    assert pairs == expected


def test_decontaminate(spark):
    from ccer.operators.dedup import decontaminate

    words = lambda n, tag: " ".join(f"{tag}{i}" for i in range(n))
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta tail1 tail2")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains the eval 8-gram "alpha..theta" at two positions →
            # still ONE distinct shared gram... plus the shifted grams
            (0, "alpha beta gamma delta epsilon zeta eta theta " + words(5, "x")),
            (1, words(12, "clean")),          # no overlap
            (2, "alpha beta gamma delta"),    # < 8 words → no grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, eval_docs, n=8).collect()}
    assert set(out) == {0}
    r = out[0]
    # train doc 0 has 13 words → 6 grams; grams starting at pos 1..3
    # (alpha..theta window) only pos 1 matches the eval doc's grams
    # (eval grams: 3 windows over 10 words)
    assert r["n_grams"] == 6
    assert r["shared_grams"] == 1
    assert abs(r["contam_frac"] - round(1 / 6, 6)) < 1e-9


def test_chunk_dedup_stats(spark):
    from ccer.operators.dedup import chunk_dedup_stats

    chunk = lambda tag: " ".join(f"{tag}{i}" for i in range(20))
    a, b, c = chunk("a"), chunk("b"), chunk("c")
    docs = spark.createDataFrame(
        [
            (0, f"{a} {b}"),        # chunk a shared with doc 1
            (1, f"{a} {c}"),
            (2, f"{b} {b}"),        # repeats chunk b twice within one doc
            (3, chunk("z") + " tail"),  # 21 words → 2 chunks, no dups
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in chunk_dedup_stats(docs, chunk_words=20).collect()}
    # chunk a occurs 2x (docs 0,1); chunk b occurs 3x (doc 0 once, doc 2 twice)
    assert set(out) == {0, 1, 2}
    assert (out[0]["n_chunks"], out[0]["dup_chunks"]) == (2, 2)
    assert (out[1]["n_chunks"], out[1]["dup_chunks"]) == (2, 1)
    assert (out[2]["n_chunks"], out[2]["dup_chunks"]) == (2, 2)
    assert abs(out[1]["dup_frac"] - 0.5) < 1e-9


def test_source_stats(spark, corpus):
    from ccer.operators.textstats import source_stats

    out = {r["source"]: r for r in source_stats(corpus).collect()}
    assert sum(r["n_docs"] for r in out.values()) == corpus.count()
    assert abs(sum(r["corpus_share"] for r in out.values()) - 1.0) < 1e-4
    assert out["s2"]["n_langs"] == 2


def test_tfidf_top_terms(spark):
    from ccer.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "common common rare0 unique0 unique0 unique0"),
            (1, "common rare0 unique1"),
            (2, "common common common"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) <= 2 for v in by_doc.values())
    # doc 0's top term must be its thrice-repeated unique token
    top0 = min(by_doc[0], key=lambda r: r["rnk"])
    assert (top0["term"], top0["tf"], top0["df"]) == ("unique0", 3, 1)
    # 'common' appears in every doc → idf = ln(4/4) = 0 → never outranks
    # a unique term where one exists
    assert by_doc[1][0]["term"] == "unique1"


def test_stratified_sample(spark, corpus):
    from ccer.operators.textstats import stratified_sample

    many = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.lit("bulk").alias("source")
    )
    kept = stratified_sample(many, {}, default_fraction=0.25, seed=1)
    n = kept.count()
    assert abs(n / 2000 - 0.25) < 0.05          # hash buckets concentrate
    # deterministic: same rows both runs
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(
        many, {}, default_fraction=0.25, seed=1).collect())
    assert ids1 == ids2
    # different seed → different selection
    ids3 = sorted(r["doc_id"] for r in stratified_sample(
        many, {}, default_fraction=0.25, seed=2).collect())
    assert ids1 != ids3
    # boundary fractions: keep-all and keep-none per source
    mixed = stratified_sample(corpus, {"s0": 1.0, "s1": 0.0}, default_fraction=1.0)
    srcs = [r["source"] for r in mixed.collect()]
    assert "s1" not in srcs and srcs.count("s0") == 3


def test_chunk_and_gram_random_parity(spark):
    """Randomized parity: chunk_dedup_stats and decontaminate against
    brute-force pandas references on a seeded 200-doc corpus with a
    small shared vocabulary (so chunk/gram collisions actually occur)."""
    import numpy as np

    from ccer.operators.dedup import chunk_dedup_stats, decontaminate

    rng = np.random.RandomState(11)
    vocab = [f"w{i}" for i in range(30)]
    texts = [
        " ".join(rng.choice(vocab, size=rng.randint(3, 60)))
        for _ in range(200)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    # --- chunk dedup vs brute force (chunk_words=5) ------------------
    def chunks_of(t, k=5):
        w = t.split(" ")
        return [" ".join(w[i : i + k]) for i in range(0, len(w), k)]

    from collections import Counter

    occ = Counter(c for t in texts for c in chunks_of(t))
    expected = {}
    for i, t in enumerate(texts):
        cs = chunks_of(t)
        dups = sum(1 for c in cs if occ[c] > 1)
        if dups:
            expected[i] = (len(cs), dups)
    got = {
        r["doc_id"]: (r["n_chunks"], r["dup_chunks"])
        for r in chunk_dedup_stats(docs, chunk_words=5).collect()
    }
    assert got == expected

    # --- decontaminate vs brute force (n=4) --------------------------
    def grams_of(t, n=4):
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    eval_ids = set(range(0, 200, 20))
    eval_grams = set().union(*(grams_of(texts[i]) for i in eval_ids))
    exp_hits = {}
    for i, t in enumerate(texts):
        if i in eval_ids:
            continue
        shared = grams_of(t) & eval_grams
        if shared:
            exp_hits[i] = len(shared)
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train_df = docs.filter(F.col("doc_id") % 20 != 0)
    got_hits = {
        r["doc_id"]: r["shared_grams"]
        for r in decontaminate(train_df, eval_df, n=4).collect()
    }
    assert got_hits == exp_hits
