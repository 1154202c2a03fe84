"""End-to-end ER pipeline: synthetic labeled corpus → clusters → F1 gate,
plus generator determinism and resume-equals-cold-run."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ccer.plans.evaluate import pairwise_scores
from ccer.plans.pipeline import (
    LAZY_STAGES,
    PipelineConfig,
    STAGE_ORDER,
    er_chain,
    run_pipeline,
)
from ccer.sources.catalog import StageStore, load_manifest
from ccer.sources.pages import synthesize_pages


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synthesize_pages(spark, 600, seed=42).cache()
    pages.count()
    yield pages
    pages.unpersist()


def test_generator_deterministic(spark):
    a = synthesize_pages(spark, 120, seed=42, n_partitions=2)
    b = synthesize_pages(spark, 120, seed=42, n_partitions=7)
    ra = sorted((r["url"], str(r["warc_ts"]), r["text"]) for r in a.collect())
    rb = sorted((r["url"], str(r["warc_ts"]), r["text"]) for r in b.collect())
    assert ra == rb


def test_generator_shape(corpus):
    rows = corpus.limit(5).collect()
    assert set(rows[0].asDict().keys()) == {
        "url", "warc_ts", "html", "text", "lang", "true_cluster_id"
    }
    assert isinstance(rows[0]["html"], (bytes, bytearray))
    n_clusters = corpus.select("true_cluster_id").distinct().count()
    assert n_clusters > 100  # cluster sizes 1..10, pattern mean 3


def test_pipeline_f1(spark, corpus, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("pipe"))
    clusters = run_pipeline(spark, corpus.drop("true_cluster_id"), workdir)
    assert clusters.count() == corpus.count()
    labels = corpus.select("url", "warc_ts", "true_cluster_id")
    scores = pairwise_scores(clusters, labels)
    assert scores["f1"] >= 0.99, scores


def test_pipeline_resume_equals_cold(spark, corpus, tmp_path_factory):
    cold_dir = str(tmp_path_factory.mktemp("cold"))
    pages = corpus.drop("true_cluster_id")
    cold = run_pipeline(spark, pages, cold_dir)
    cold_rows = sorted((r["rid"], r["cluster_id"]) for r in cold.collect())

    # invalidate from 'edges' and resume: stages before are reused, later
    # stages recomputed — result must be identical
    store = StageStore(spark, cold_dir)
    store.invalidate_from("edges", STAGE_ORDER)
    resumed = run_pipeline(spark, pages, cold_dir, resume=True)
    resumed_rows = sorted((r["rid"], r["cluster_id"]) for r in resumed.collect())
    assert cold_rows == resumed_rows

    # manifest lists all stages complete
    assert set(store.completed_stages()) == set(STAGE_ORDER)

    # a fresh session has no catalog table for the bucketed features: the
    # resume re-registers it with the bucket count derived at write time
    bucket_count = load_manifest(cold_dir)["stages"]["features"]["bucket_count"]
    assert bucket_count == max(
        corpus.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism
    ) != 64
    tbl = store._table_name("features")
    spark.sql(f"DROP TABLE {tbl}")
    store.invalidate_from("edges", STAGE_ORDER)
    resumed = run_pipeline(spark, pages, cold_dir, resume=True)
    resumed_rows = sorted((r["rid"], r["cluster_id"]) for r in resumed.collect())
    assert cold_rows == resumed_rows
    described = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    }
    assert described["Num Buckets"] == str(bucket_count)
    shutil.rmtree(cold_dir, ignore_errors=True)


def test_stage_store_failed_write_stays_incomplete(spark, tmp_path):
    """A stage whose compute fails mid-write (a Python UDF raising on one
    row, after other tasks wrote their files) leaves no ``_SUCCESS``
    marker and no complete manifest entry, so ``exists`` is False and the
    next ``stage`` call recomputes; the recomputed stage equals a clean
    run. This pins the write order: data, then ``_SUCCESS``, then the
    manifest — on the plain and the bucketed write path."""
    clean = spark.range(0, 400, numPartitions=4).withColumn("v", F.col("id") * 3)

    @F.udf("long")
    def fail_on_one_row(x):
        if x == 337:
            raise RuntimeError("injected fault")
        return x

    for bucket_by in (None, "id"):
        store = StageStore(spark, str(tmp_path / f"store_{bucket_by}"))
        calls = []

        def faulty():
            calls.append("faulty")
            return clean.withColumn("id", fail_on_one_row("id"))

        def healthy():
            calls.append("healthy")
            return clean

        with pytest.raises(Exception, match="injected fault"):
            store.stage("s", faulty, bucket_by=bucket_by)
        assert not os.path.exists(os.path.join(store.path("s"), "_SUCCESS"))
        meta = load_manifest(store.base_dir)["stages"].get("s", {})
        assert not meta.get("complete", False)
        assert not store.exists("s")
        got = store.stage("s", healthy, bucket_by=bucket_by)
        assert calls == ["faulty", "healthy"] and store.exists("s")
        _assert_same_rows(got, clean)


def test_stage_store_write_returns_the_read_schema(spark, tmp_path):
    """``write`` re-reads a plain parquet stage with the written frame's
    schema instead of inferring it from a footer; the frame it returns
    has exactly the schema ``spark.read.parquet`` reports for the stage —
    top-level fields nullable, timestamp and nested array types kept."""
    df = spark.range(0, 50, numPartitions=2).select(
        "id",
        F.lit(7).alias("n_tokens"),
        F.timestamp_seconds(F.col("id") * 3600).alias("warc_ts"),
        F.array(F.col("id"), F.col("id") + 1).alias("bands"),
        F.array(F.struct(F.col("id").alias("k"), F.lit("x").alias("v"))).alias("kv"),
    )
    assert not df.schema["id"].nullable
    store = StageStore(spark, str(tmp_path / "store"))
    out = store.write(df, "clusters")
    assert out.schema == spark.read.parquet(store.path("clusters")).schema
    _assert_same_rows(out, df)


def test_lazy_chain_equals_run_pipeline(spark, corpus, tmp_path_factory):
    """The one ER chain through the identity hook (the query registry's
    path) labels every record exactly as the staged run does."""
    workdir = str(tmp_path_factory.mktemp("lazy"))
    pages = corpus.drop("true_cluster_id")
    staged = run_pipeline(spark, pages, workdir, resume=False)
    lazy = er_chain(pages, PipelineConfig(), LAZY_STAGES)
    assert lazy.columns == staged.columns
    staged_rows = sorted((r["rid"], r["cluster_id"]) for r in staged.collect())
    lazy_rows = sorted((r["rid"], r["cluster_id"]) for r in lazy.collect())
    assert len(lazy_rows) == corpus.count()
    assert lazy_rows == staged_rows
    shutil.rmtree(workdir, ignore_errors=True)


def test_er_chain_builds_features_for_the_scorer_config(spark, corpus):
    """The features pass builds the KMV sketches and text prefixes at the
    scorer's ``sketch_k`` and ``lev_prefix``: a 32-value sketch runs the
    chain end to end and still recovers the labelled clusters."""
    from ccer.operators.features import extract_features
    from ccer.operators.scoring import ScoringConfig

    cfg = PipelineConfig(scoring=ScoringConfig(sketch_k=32, lev_prefix=64))
    feats = extract_features(corpus, **cfg.features_args())
    widest = feats.agg(
        F.max(F.size("sh")).alias("sh"), F.max(F.length("text_prefix")).alias("prefix")
    ).collect()[0]
    assert (widest["sh"], widest["prefix"]) == (32, 64)
    clusters = er_chain(corpus.drop("true_cluster_id"), cfg, LAZY_STAGES)
    labels = corpus.select("url", "warc_ts", "true_cluster_id")
    scores = pairwise_scores(clusters, labels)
    assert scores["f1"] >= 0.99, scores


def test_skew_salting_bounds_block_size(spark, corpus, tmp_path_factory):
    from ccer.operators.blocking import block_keys, salt_oversized_blocks
    from ccer.operators.features import extract_features

    feats = extract_features(corpus).cache()
    blocks = salt_oversized_blocks(block_keys(feats), block_cap=50)
    max_block = blocks.groupBy("block_key").count().agg(F.max("count")).collect()[0][0]
    # mega-host block (~20% of rows) must have been subdivided
    assert max_block <= 120  # 600 docs * 20% = 120 hard ceiling, salted below
    feats.unpersist()


def _oracle_score(fa, fb, cfg):
    """Scalar per-pair reference for ``score_pairs``, written from the
    decision rule in scoring.py's module docstring over two collected
    feature rows: url identity by string equality, the set cosine from
    plain Python sets, then the ambiguous band's Jaro-Winkler gate and
    Levenshtein fallback. Returns (s_set, s_lev, s_jw_title, same_url,
    is_match, branch)."""
    from ccer.functions.textsim import jaro_winkler_similarity, levenshtein_ratio
    from test_kernels import _scalar_set_cosine

    if fa["url_norm"] and fa["url_norm"] == fb["url_norm"]:
        return 1.0, 0.0, 0.0, True, True, "url"
    s_set = _scalar_set_cosine(fa["sh"], fb["sh"], fa["n_sh"], fb["n_sh"], cfg.sketch_k)
    if s_set >= cfg.cos_hi:
        return s_set, 0.0, 0.0, False, True, "cosine"
    if s_set < cfg.lev_band[0]:
        return s_set, 0.0, 0.0, False, False, "below_band"
    s_jw = s_lev = 0.0
    if s_set >= cfg.cos_lo:
        s_jw = jaro_winkler_similarity(fa["title_norm"] or "", fb["title_norm"] or "")
        if s_jw >= cfg.jw_gate:
            return s_set, 0.0, s_jw, False, True, "jw"
    if s_set < cfg.lev_band[1]:
        s_lev = levenshtein_ratio(
            (fa["text_prefix"] or "")[: cfg.lev_prefix],
            (fb["text_prefix"] or "")[: cfg.lev_prefix],
        )
        if s_lev >= cfg.lev_hi:
            return s_set, s_lev, s_jw, False, True, "lev"
    return s_set, s_lev, s_jw, False, False, "ambiguous_reject"


def _branch_cases(spark):
    """Hand-built feature rows and pairs, one pair per branch of the
    decision rule. Sketches are 10-element sets, so the cosine is exact:
    sharing n elements gives s_set = n / 10."""
    ten = list(range(10))

    def sharing(n):
        return ten[:n] + list(range(100, 110 - n))

    rows = [
        # url identity: disjoint sketches, same normalized url
        (1, "example.com/a", "one", "first page", ten),
        (2, "example.com/a", "two", "second page", list(range(200, 210))),
        # cosine override: s_set 0.9
        (3, "example.com/c3", "three", "third page", ten),
        (4, "example.com/c4", "four", "fourth page", sharing(9)),
        # JW accept: s_set 0.6, equal titles
        (5, "example.com/j5", "annual report", "alpha text", ten),
        (6, "example.com/j6", "annual report", "omega words", sharing(6)),
        # Levenshtein accept: s_set 0.4 (below cos_lo), equal prefixes
        (7, "example.com/l7", "red", "the quick brown fox jumps", ten),
        (8, "example.com/l8", "blue", "the quick brown fox jumps", sharing(4)),
        # ambiguous reject: s_set 0.6, a NULL title, unlike prefixes
        (9, None, None, "lorem ipsum dolor", ten),
        (10, "example.com/r10", "zebra crossing", "completely different", sharing(6)),
        # below the band: s_set 0.1
        (11, "example.com/b11", "same title", "same prefix", ten),
        (12, "example.com/b12", "same title", "same prefix", sharing(1)),
    ]
    feats = spark.createDataFrame(
        [(i, u, t, x, sh, len(sh)) for i, u, t, x, sh in rows],
        schema=(
            "id long, url_norm string, title_norm string, text_prefix string, "
            "sh array<int>, n_sh int"
        ),
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 13, 2)], schema="id_a long, id_b long"
    )
    return feats, pairs


def test_scoring_backend_assigned_after_construction_raises():
    """``backend`` is a plain attribute: a misspelt value assigned after
    the constructor's check must fail at ``score_pairs``, not score with
    hybrid. The check runs before any plan is built."""
    from ccer.operators.scoring import ScoringConfig, score_pairs

    cfg = ScoringConfig()
    cfg.backend = "pyhton"
    with pytest.raises(ValueError, match="'pyhton'.*hybrid.*sql"):
        score_pairs(None, None, cfg)


def test_scoring_backend_parity(spark, corpus):
    """Both scorer backends against the scalar per-pair oracle, on the
    corpus's candidate pairs and on one hand-built pair per branch of the
    decision rule. hybrid matches the oracle per pair: s_set to 12
    decimals, same_url, s_lev, s_jw_title and is_match. The --no-udf sql
    backend has the same pair set and s_set, and the same tier-0/1
    decisions (its kernel tier is a documented levenshtein stand-in)."""
    from ccer.operators.blocking import block_keys, candidate_pairs, salt_oversized_blocks
    from ccer.operators.features import extract_features
    from ccer.operators.scoring import ScoringConfig, score_pairs

    cfg = ScoringConfig()
    feats = extract_features(corpus.drop("true_cluster_id")).cache()
    pairs = candidate_pairs(salt_oversized_blocks(block_keys(feats))).cache()
    assert pairs.count() > 100
    hand_feats, hand_pairs = _branch_cases(spark)

    def scored(p, f, backend):
        out = score_pairs(p, f, ScoringConfig(backend=backend))
        return {
            (r["id_a"], r["id_b"]): (
                round(r["s_set"], 12),
                round(r["s_lev"], 12),
                round(r["s_jw_title"], 12),
                r["same_url"],
                r["is_match"],
            )
            for r in out.collect()
        }

    for f, p in [(feats, pairs), (hand_feats, hand_pairs)]:
        rows = {
            r["id"]: r
            for r in f.select("id", "url_norm", "title_norm", "text_prefix", "sh", "n_sh").collect()
        }
        oracle = {
            (r["id_a"], r["id_b"]): _oracle_score(rows[r["id_a"]], rows[r["id_b"]], cfg)
            for r in p.collect()
        }
        want = {
            k: (round(s, 12), round(lev, 12), round(jw, 12), same, m)
            for k, (s, lev, jw, same, m, _) in oracle.items()
        }
        hy = scored(p, f, "hybrid")
        assert set(hy) == set(want)
        mismatches = {k: (want[k], hy[k]) for k in want if want[k] != hy[k]}
        assert not mismatches, list(mismatches.items())[:5]

        sq = scored(p, f, "sql")
        assert set(sq) == set(want)
        cos_mismatch = {k: (want[k][0], sq[k][0]) for k in want if want[k][0] != sq[k][0]}
        assert not cos_mismatch, list(cos_mismatch.items())[:5]
        for k, (*_, m, branch) in oracle.items():
            if branch in ("url", "cosine", "below_band"):
                assert sq[k][4] == m, (k, want[k], sq[k])

    assert {k: v[5] for k, v in oracle.items()} == {
        (1, 2): "url",
        (3, 4): "cosine",
        (5, 6): "jw",
        (7, 8): "lev",
        (9, 10): "ambiguous_reject",
        (11, 12): "below_band",
    }
    pairs.unpersist()
    feats.unpersist()


def test_scoring_null_url_pair(spark):
    """A pair where exactly one side has a NULL/empty normalized url must
    score (same_url=false), not crash the Arrow tier (`~NULL`) or be
    silently dropped by the sql backend's filters (3-valued logic on
    `uh_a == uh_b`)."""
    from ccer.operators.scoring import ScoringConfig, score_pairs

    feats = spark.createDataFrame(
        [
            (1, None, "alpha title", "alpha text prefix", "en", [10, 20, 30], 3),
            (2, "example.com/x", "alpha title", "alpha text prefix", "en", [10, 20, 30], 3),
            (3, "", "beta title", "beta text prefix", "en", [40, 50], 2),
            (4, "example.com/x", "alpha title", "alpha text prefix", "en", [10, 20, 30], 3),
        ],
        schema=(
            "id long, url_norm string, title_norm string, text_prefix string, "
            "lang string, sh array<int>, n_sh int"
        ),
    )
    pairs = spark.createDataFrame(
        [(2, 1), (1, 3), (2, 3), (2, 4)], schema="id_a long, id_b long"
    )
    for backend in ("hybrid", "sql"):
        out = {
            (r["id_a"], r["id_b"]): (r["same_url"], r["is_match"])
            for r in score_pairs(pairs, feats, ScoringConfig(backend=backend)).collect()
        }
        # no pair dropped, no crash
        assert set(out) == {(2, 1), (1, 3), (2, 3), (2, 4)}, (backend, out)
        assert out[(2, 1)][0] is False, backend    # url vs NULL
        assert out[(1, 3)][0] is False, backend    # NULL vs empty
        assert out[(2, 3)][0] is False, backend    # url vs empty
        assert out[(2, 4)] == (True, True), backend  # identical urls still match
        # identical sketches: the similarity override must still fire
        assert out[(2, 1)][1] is True, (backend, out[(2, 1)])


def test_spark_minhash_band_keys_bit_exact(spark):
    """The numpy xxhash64 replica that lets the features pass precompute
    LSH band keys must match Spark's JVM expression bit-for-bit on
    arbitrary signatures: the band keys of every Arrow pass are values of
    that reference formula."""
    import numpy as np
    from pyspark.sql import functions as F

    from ccer.functions.hashing import spark_minhash_band_keys

    rng = np.random.RandomState(7)
    for bands, rows_per_band in [(32, 4), (16, 2)]:
        num_perm = bands * rows_per_band
        sig = rng.randint(-(2**31), 2**31, size=(64, num_perm)).astype(np.int32)
        df = spark.createDataFrame(
            [(i, sig[i].tolist()) for i in range(len(sig))], "id int, sig array<int>"
        )
        cols = [
            F.xxhash64(
                F.lit("m"), F.lit(b), F.slice("sig", b * rows_per_band + 1, rows_per_band)
            ).alias(f"b{b}")
            for b in range(bands)
        ]
        got = {r["id"]: r for r in df.select("id", *cols).collect()}
        expect = spark_minhash_band_keys(sig, bands, rows_per_band)
        for i in range(len(sig)):
            for b in range(bands):
                assert got[i][f"b{b}"] == int(expect[i, b])


def _signatures_of(features, corpus, minhash_bands=32):
    """``dedup.text_signatures`` of the texts behind a features table,
    keyed by the features id. On texts shorter than the features
    ``text_cap`` each signature is the one the features pass derived its
    band keys from."""
    from ccer.operators.dedup import text_signatures

    docs = features.select("id", "url", "warc_ts").join(
        corpus.select("url", "warc_ts", "text"), ["url", "warc_ts"]
    )
    assert docs.count() == features.count()
    return text_signatures(
        docs.select(F.col("id").alias("doc_id"), "text"), minhash_bands=minhash_bands
    )


def _jvm_band_keys(sigs, bands):
    """The reference band-key formula, in Spark's JVM: (id, block_key)
    rows of ``xxhash64("m", band, slice(sig, band * rows + 1, rows))``
    over a signature table."""
    rows = 128 // bands
    keys = [
        F.xxhash64(F.lit("m"), F.lit(b), F.slice("sig", b * rows + 1, rows))
        for b in range(bands)
    ]
    return sigs.select("id", F.explode(F.array(*keys)).alias("block_key"))


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_block_keys_precomputed_bands_match_jvm(spark, corpus):
    """The band keys of both Arrow passes — ``extract_features`` and
    ``dedup.text_signatures`` — equal the JVM slice+hash formula over the
    texts' signatures, and ``block_keys`` emits exactly them, at the
    default and at a non-default banding."""
    from ccer.operators.blocking import block_keys
    from ccer.operators.features import extract_features

    for bands in (32, 16):
        feats = extract_features(corpus, minhash_bands=bands).cache()
        assert "sig" not in feats.columns
        sigs = _signatures_of(feats, corpus, minhash_bands=bands).cache()
        want = _jvm_band_keys(sigs, bands)
        for table in (feats, sigs):
            got = block_keys(table, passes=("minhash",), minhash_bands=bands)
            assert got.count() == corpus.count() * bands
            _assert_same_rows(got.select("id", "block_key"), want)
        feats.unpersist()
        sigs.unpersist()


def test_pipeline_non_default_banding_blocks_match_jvm(spark, corpus, tmp_path_factory):
    """run_pipeline at minhash_bands=16: the stored features carry 16 band
    keys per row, and the stored MinHash block rows are exactly the JVM
    ``xxhash64("m", band, slice(sig, ...))`` keys over the same texts'
    signatures — which are also the ``bands`` of their 16-band
    ``text_signatures``."""
    workdir = str(tmp_path_factory.mktemp("bands16"))
    bands = 16
    run_pipeline(
        spark,
        corpus.drop("true_cluster_id"),
        workdir,
        PipelineConfig(minhash_bands=bands),
        resume=False,
    )
    store = StageStore(spark, workdir)
    feats = store.read("features")
    assert {r[0] for r in feats.select(F.size("bands")).distinct().collect()} == {bands}
    sigs = _signatures_of(feats, corpus, minhash_bands=bands)
    want = _jvm_band_keys(sigs, bands)
    got = store.read("blocks").filter(F.col("pass_id") == 3).select("id", "block_key")
    assert got.count() == corpus.count() * bands
    _assert_same_rows(got, want)
    _assert_same_rows(
        sigs.select("id", F.explode("bands").alias("block_key")), want
    )
    shutil.rmtree(workdir, ignore_errors=True)


def test_block_keys_minhash_pass_needs_bands(spark):
    """The MinHash pass has one band-key source, the ``bands`` column: a
    table without it raises instead of deriving keys some other way."""
    from ccer.operators.blocking import block_keys

    sigs = spark.createDataFrame(
        [(1, [0] * 128, 0)], "id long, sig array<int>, simhash long"
    )
    with pytest.raises(ValueError, match="bands"):
        block_keys(sigs, passes=("minhash",))
    assert block_keys(sigs, passes=("simhash",)).count() == 3


def test_block_keys_rejects_features_of_another_banding(spark, corpus):
    """A features table built for one banding fails the MinHash pass of
    another instead of emitting keys of the wrong banding."""
    from ccer.operators.blocking import block_keys
    from ccer.operators.features import extract_features

    feats = extract_features(corpus.limit(20))
    with pytest.raises(Exception, match="minhash_bands=16"):
        block_keys(feats, minhash_bands=16).collect()
    with pytest.raises(ValueError, match="multiple"):
        extract_features(corpus, num_perm=100)


def test_candidate_pairs_probe_mode(spark):
    """Block rows carrying ``new``: the output is the batch output over
    the same rows restricted to pairs with a new endpoint, through the
    same pass-aware Hamming prefilter; all-old blocks generate nothing.
    Simhashes are nested low-bit masks, so xor distance = |bits_a - bits_b|."""
    from ccer.operators.blocking import PASS_HOST, PASS_MINHASH, PASS_URL, candidate_pairs

    bits = {1: 0, 2: 4, 3: 5, 4: 10, 5: 11, 6: 40, 7: 1}
    new = {2, 4, 5, 6}
    blocks = {
        100: (PASS_URL, [1, 6]),             # distance 40: the url pass bypasses
        101: (PASS_URL, [3, 7]),             # all old
        200: (PASS_HOST, [1, 2, 3, 4, 7]),   # host bound 4: 4 kept, 5 and 6 dropped
        300: (PASS_MINHASH, [1, 3, 4, 5, 6]),  # bound 10: 10 kept, 11 dropped
        301: (PASS_MINHASH, [1, 7]),         # all old
        302: (PASS_MINHASH, [4]),            # singleton
    }
    rows = spark.createDataFrame(
        [
            (key, pass_id, i, (1 << bits[i]) - 1, i in new)
            for key, (pass_id, ids) in blocks.items()
            for i in ids
        ],
        "block_key long, pass_id int, id long, simhash long, new boolean",
    )

    def pairs(df):
        out = candidate_pairs(df, hamming_prefilter=10, host_hamming_prefilter=4)
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    batch = pairs(rows.drop("new"))
    probe = pairs(rows)
    assert batch == {
        (1, 6), (3, 7), (1, 2), (1, 7), (2, 3), (2, 7),
        (1, 3), (1, 4), (3, 4), (3, 5), (4, 5),
    }
    assert probe == {p for p in batch if new & set(p)}
    assert probe == {(1, 6), (1, 2), (2, 3), (2, 7), (1, 4), (3, 4), (3, 5), (4, 5)}
    assert pairs(rows.filter(~F.col("new"))) == set()
