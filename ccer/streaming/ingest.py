"""Incremental page ingestion + incremental clustering.

The reference is batch-only (its incremental notion is a manual chunk
loop, workflows.py:117, build_db.py:311-401). Our engine adds a true
streaming ingestion mode: a Structured Streaming file source feeds
micro-batches through ``foreachBatch``; each batch runs the SAME feature
kernel (one code path — the byte-identical invariant again) and appends
to the features stage; clustering is then advanced incrementally.

The delta probe is ``candidate_pairs`` over ``new``-tagged blocks: the
batch's own pair generator, salting and Hamming prefilter, under the one
``PipelineConfig``, so a delta scores exactly the batch's candidate pairs
that touch a new record.

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
    candidate_pairs,
    merge_profiles,
    salt_oversized_blocks,
)
from ccer.operators.cluster import assign_clusters, connected_components
from ccer.operators.features import extract_features
from ccer.operators.scoring import match_edges, score_pairs
from ccer.plans.pipeline import PipelineConfig

PAGE_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def incremental_update(
    spark: SparkSession,
    prior_features: DataFrame | None,
    prior_components: DataFrame | None,
    new_pages: DataFrame,
    config: PipelineConfig | None = None,
    prior_blocks: DataFrame | None = None,
    prior_profile: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Advance the clustering by one batch of pages.

    Returns (features_all, blocks_raw_all, components_all, clusters_all,
    profile_all).

    ``config`` is the batch's ``PipelineConfig``, passed on as ``er_chain``
    does; with no row count, "auto" simhash bits take the 16-bit floor.

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

    The delta probe is ``candidate_pairs`` over ``new``-tagged blocks
    (tagged before salting); its per-block shuffle of slim block rows is
    the one pass over corpus rows, and keeps only blocks with a new member.
    """
    cfg = config or PipelineConfig()
    # the batch's features feed its block keys, the profile delta, the
    # scorer and cluster assignment: materialize the Arrow pass once
    feats_new = extract_features(new_pages, **cfg.features_args()).localCheckpoint(
        eager=False
    )
    if prior_features is None:
        feats_all = feats_new
    else:
        feats_all = prior_features.unionByName(feats_new)

    block_args = cfg.block_args(None)
    blocks_new_raw = block_keys(feats_new, **block_args)
    tagged = blocks_new_raw.withColumn("new", F.lit(True))
    if prior_blocks is None and prior_features is not None:
        prior_blocks = block_keys(prior_features, **block_args)
    if prior_blocks is not None:
        tagged = prior_blocks.withColumn("new", F.lit(False)).unionByName(tagged)
    blocks_raw_all = tagged.drop("new")
    if prior_profile is not None:
        profile_all = merge_profiles(prior_profile, block_size_profile(blocks_new_raw))
    else:
        profile_all = block_size_profile(blocks_raw_all)
    blocks = salt_oversized_blocks(tagged, profile=profile_all, **cfg.salt_args())
    pairs = candidate_pairs(blocks, **cfg.pair_args())
    new_edges = match_edges(score_pairs(pairs, feats_all, cfg.scoring))
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
    config: PipelineConfig | None = None,
):
    """File-source streaming ingestion: each micro-batch is featurized by
    the canonical kernel under ``config``'s features arguments (the batch
    pipeline's ``PipelineConfig``) and appended to
    ``<workdir>/features_stream``.

    foreachBatch gives exactly-once-per-batch appends (the batch id is
    recorded by the checkpoint); clustering runs on demand over the
    accumulated features (or incrementally via ``incremental_update``).
    """
    out_path = os.path.join(workdir, "features_stream")
    checkpoint = os.path.join(workdir, "_stream_checkpoint")
    features_args = (config or PipelineConfig()).features_args()

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        feats = extract_features(batch_df, **features_args)
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
