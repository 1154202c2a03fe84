"""End-to-end curation funnel: planted dups/contamination must be swept,
resume must reproduce the cold run bit-for-bit, the funnel must be
monotone (every stage is a row filter), and each filter stage — stored
as a doc_id keep-list — must read back as the full rows it selects."""

import re

import pytest
from pyspark.sql import functions as F

from ccer.operators.cluster import connected_components
from ccer.operators.dedup import decontaminate, exact_dedup, minhash_neardup_pairs
from ccer.operators.quality import repetition_signals
from ccer.operators.textstats import stratified_sample
from ccer.plans.curation_workflow import (
    CurationConfig,
    run_curation,
    stage_counts,
)
from ccer.sources.catalog import StageStore


@pytest.fixture(scope="module")
def pages(spark):
    from ccer.sources.pages import synthesize_pages

    df = synthesize_pages(spark, 300, with_labels=False).cache()
    df.count()
    return df


def test_curation_funnel_and_resume(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("curation"))
    cfg = CurationConfig(sample_fraction=0.8)
    out = run_curation(spark, pages, wd, config=cfg, resume=False)
    rows_cold = sorted(map(tuple, out.select("doc_id", "url").collect()))
    counts = stage_counts(wd)
    # monotone funnel over materialized stages
    order = [n for n in ["docs", "exact", "neardup", "quality", "sample"] if n in counts]
    vals = [counts[n]["rows"] for n in order]
    assert vals == sorted(vals, reverse=True)
    assert counts["docs"]["rows"] == 300
    # near-dup sweep must remove something: the synthetic corpus plants
    # heavy near-duplicate clusters
    assert counts["neardup"]["rows"] < counts["exact"]["rows"]

    again = run_curation(spark, pages, wd, config=cfg, resume=True)
    assert sorted(map(tuple, again.select("doc_id", "url").collect())) == rows_cold


def test_curation_decontam_stage(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("curation_eval"))
    # eval set = the exact text of a few input pages → those pages (and
    # their near-dup survivors carrying the same 8-grams) must be gone
    eval_docs = pages.select("text").limit(3)
    out = run_curation(
        spark,
        pages,
        wd,
        config=CurationConfig(),
        resume=False,
        eval_docs=eval_docs,
    )
    kept_texts = {r["text"] for r in out.collect()}
    leaked = {r["text"] for r in eval_docs.collect()} & kept_texts
    assert leaked == set()
    counts = stage_counts(wd)
    assert "decontam" in counts
    assert counts["decontam"]["rows"] <= counts["quality"]["rows"]


def test_curation_config_fingerprint_invalidates(spark, pages, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("curation_fp"))
    out1 = run_curation(
        spark, pages, wd, config=CurationConfig(sample_fraction=0.5), resume=False
    )
    n1 = out1.count()
    # changed config → resume must NOT reuse stages computed under the
    # old fingerprint (sample fraction changes the output)
    out2 = run_curation(
        spark, pages, wd, config=CurationConfig(sample_fraction=0.9), resume=True
    )
    n2 = out2.count()
    assert n2 > n1
    # a num_perm the 32-band LSH cannot split evenly is refused when the
    # config is built
    with pytest.raises(ValueError, match="multiple of minhash_bands"):
        CurationConfig(num_perm=100)


def _full_row_stages(docs, cfg, eval_docs):
    """The filter stages as full-row tables, each derived from the rows of
    the one before (a full-row survivor pick for exact dedup): what the
    funnel stored per stage before stages became keep-lists."""
    cols = docs.columns
    exact = (
        docs.groupBy(F.md5("text"))
        .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("r"))
        .select("r.*")
        .localCheckpoint()
    )
    cfg_nd = dict(num_perm=cfg.num_perm, est_threshold=cfg.minhash_threshold)
    comps = connected_components(
        minhash_neardup_pairs(exact, **cfg_nd).select("id_a", "id_b")
    )
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    neardup = exact.join(losers, "doc_id", "left_anti").localCheckpoint()
    toks = F.size(F.split(F.col("text"), r"\s+"))
    quality = (
        repetition_signals(neardup)
        .filter((F.col("dup_line_frac") <= cfg.max_dup_line_frac) & (toks >= cfg.min_tokens))
        .select(*cols)
    )
    ev = eval_docs.withColumn("doc_id", F.xxhash64("text"))
    flagged = decontaminate(quality, ev, n=cfg.decontam_n).select("doc_id")
    decontam = quality.join(flagged, "doc_id", "left_anti")
    sample = stratified_sample(
        decontam, {}, default_fraction=cfg.sample_fraction, seed=cfg.sample_seed
    )
    return {
        "exact": exact, "neardup": neardup, "quality": quality,
        "decontam": decontam, "sample": sample,
    }


def test_keep_list_stages_read_back_full_rows(spark, pages, tmp_path_factory):
    """Every filter stage stores only survivor doc_ids; a fresh store (no
    fingerprint, as an outside reader opens it) must read each one back
    with docs' columns in docs' order and exactly the rows a full-row
    stage holds — exceptAll empty both ways. One run with an eval set and
    sample_fraction < 1 covers decontam and sample too."""
    wd = str(tmp_path_factory.mktemp("curation_keep"))
    cfg = CurationConfig(sample_fraction=0.8)
    # five pages again under new urls, so exact dedup has rows to drop
    copies = pages.orderBy("url").limit(5).withColumn("url", F.concat("url", F.lit("?copy")))
    corpus = pages.unionByName(copies)
    eval_docs = pages.orderBy("url").select("text").limit(5)
    out = run_curation(spark, corpus, wd, config=cfg, resume=False, eval_docs=eval_docs)

    store = StageStore(spark, wd)
    docs = store.read("docs")
    assert store.rows("docs") == 305
    full = _full_row_stages(docs, cfg, eval_docs)
    counts = stage_counts(wd)
    # each stage removes something, so every comparison is a real filter
    order = ["docs", "exact", "neardup", "quality", "decontam", "sample"]
    assert all(counts[a]["rows"] > counts[b]["rows"] for a, b in zip(order, order[1:]))
    for name, ref in full.items():
        stored = spark.read.parquet(store.path(name))
        assert stored.columns == ["doc_id"], name
        got = store.read(name)
        assert got.columns == docs.columns, name
        assert got.count() == counts[name]["rows"] == ref.count(), name
        assert got.exceptAll(ref).count() == 0 == ref.exceptAll(got).count(), name
    assert out.exceptAll(full["sample"]).count() == 0 == full["sample"].exceptAll(out).count()


def test_docs_refuses_repeated_url(spark, pages, tmp_path_factory):
    """doc_id = xxhash64(url) must be a key of docs. A re-crawl of a url
    whose new text equals a lower-id doc's text is dropped by exact
    dedup, yet its doc_id survives through the url's first crawl, so
    the keep-list read-back would bring the re-crawl back. The docs stage
    must refuse the input, name the url, and stay incomplete."""
    picked = (
        pages.select(F.xxhash64("url").alias("doc_id"), "url", "lang", "text")
        .orderBy("doc_id")
        .limit(4)
        .collect()
    )
    low, high = picked[0], picked[-1]
    rows = [(r["url"], r["lang"], r["text"]) for r in picked]
    rows.append((high["url"], high["lang"], low["text"]))  # the re-crawl
    two_crawls = spark.createDataFrame(rows, "url string, lang string, text string")

    # the hazard: the semi-join read-back returns both rows of the url
    docs = two_crawls.select(F.xxhash64("url").alias("doc_id"), "url", "text")
    back = docs.join(exact_dedup(docs), "doc_id", "left_semi")
    assert back.filter(F.col("url") == high["url"]).count() == 2

    wd = str(tmp_path_factory.mktemp("curation_dup_url"))
    with pytest.raises(ValueError, match=re.escape(f"url '{high['url']}' appears more than once")):
        run_curation(spark, two_crawls, wd, resume=False)
    assert not StageStore(spark, wd).exists("docs")
