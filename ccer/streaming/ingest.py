"""Incremental page ingestion + incremental clustering.

The reference is batch-only (its incremental notion is a manual chunk
loop, workflows.py:117, build_db.py:311-401). Our engine adds a true
streaming ingestion mode: a Structured Streaming file source feeds
micro-batches through ``foreachBatch``; each batch runs the SAME feature
kernel (one code path — the byte-identical invariant again) and appends
to the features stage; clustering is then advanced incrementally.

Incremental clustering correctness: connected components over
(previous id→component mapping edges) ∪ (edges incident to new records)
equals connected components over the full edge set, because a component
mapping preserves connectivity of everything already merged. So each
increment only scores pairs that TOUCH a new record — the already-
clustered corpus is never re-scored (the property that makes continuous
crawl ingestion tractable at 10^12 docs).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.blocking import (
    block_keys,
    block_size_profile,
    merge_profiles,
    salt_oversized_blocks,
)
from ccer.operators.cluster import assign_clusters, connected_components
from ccer.operators.features import extract_features
from ccer.operators.scoring import ScoringConfig, match_edges, score_pairs

PAGE_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def incremental_update(
    spark: SparkSession,
    prior_features: DataFrame | None,
    prior_components: DataFrame | None,
    new_pages: DataFrame,
    config: ScoringConfig | None = None,
    block_cap: int = 500,
    prior_blocks: DataFrame | None = None,
    prior_profile: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Advance the clustering by one batch of pages.

    Returns (features_all, blocks_raw_all, components_all, clusters_all,
    profile_all).

    Per-batch work that scales with the BATCH, not the corpus: feature
    extraction (Arrow pass) and block-key derivation (band explosion)
    run on the new records only — pass the returned ``blocks_raw_all``
    back in as ``prior_blocks`` and old records' keys are reused, never
    recomputed (in the checkpointed pipeline this is the persisted
    ``blocks`` stage) — and, when ``prior_profile`` (the returned
    ``profile_all``) is passed back in, the block-size profile behind
    skew salting: only the BATCH's block rows are counted and the delta
    is merged into the prior profile (#distinct-keys rows of 20 bytes),
    so no per-batch aggregation ever re-scans the corpus's block rows.
    Per-batch work that necessarily touches the corpus: the pair join's
    build side — a key-only shuffle, no signature or text movement. Only
    pairs with ≥1 new-side record are scored: new block rows join
    against ALL block rows (old ∪ new) — an equi-join whose probe side
    is just the batch.
    """
    feats_new = extract_features(new_pages)
    if prior_features is None:
        feats_all = feats_new
    else:
        feats_all = prior_features.unionByName(feats_new)

    blocks_new_raw = block_keys(feats_new)
    if prior_blocks is not None:
        blocks_raw_all = prior_blocks.unionByName(blocks_new_raw)
    else:
        blocks_raw_all = block_keys(feats_all) if prior_features is not None else blocks_new_raw
    if prior_profile is not None and prior_blocks is not None:
        profile_all = merge_profiles(prior_profile, block_size_profile(blocks_new_raw))
    else:
        profile_all = block_size_profile(blocks_raw_all)
    blocks_all = salt_oversized_blocks(
        blocks_raw_all, block_cap=block_cap, profile=profile_all
    )
    new_ids = feats_new.select("id").distinct()
    blocks_new = blocks_all.join(new_ids, "id", "left_semi")

    left = blocks_new.select("block_key", F.col("id").alias("id_a"))
    right = blocks_all.select("block_key", F.col("id").alias("id_b"))
    pairs = (
        left.join(right, "block_key")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    new_edges = match_edges(score_pairs(pairs, feats_all, config))
    if prior_components is not None:
        prior_edges = prior_components.select(
            F.col("id").alias("id_a"), F.col("component").alias("id_b")
        )
        all_edges = prior_edges.unionByName(new_edges)
    else:
        all_edges = new_edges
    components = connected_components(all_edges)
    clusters = assign_clusters(feats_all, components)
    return feats_all, blocks_raw_all, components, clusters, profile_all


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    trigger_once: bool = True,
):
    """File-source streaming ingestion: each micro-batch is featurized by
    the canonical kernel and appended to ``<workdir>/features_stream``.

    foreachBatch gives exactly-once-per-batch appends (the batch id is
    recorded by the checkpoint); clustering runs on demand over the
    accumulated features (or incrementally via ``incremental_update``).
    """
    out_path = os.path.join(workdir, "features_stream")
    checkpoint = os.path.join(workdir, "_stream_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        feats = extract_features(batch_df)
        feats.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_path
        )

    stream = (
        spark.readStream.schema(PAGE_SCHEMA_DDL)
        .parquet(input_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()
