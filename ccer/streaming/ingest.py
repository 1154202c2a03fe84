"""Incremental page ingestion + incremental clustering.

The reference is batch-only (its incremental notion is a manual chunk
loop, workflows.py:117, build_db.py:311-401). Our engine adds a true
streaming ingestion mode: a Structured Streaming file source feeds
micro-batches through ``foreachBatch``; each batch runs the SAME feature
kernel (one code path — the byte-identical invariant again) and appends
to the features stage; clustering is then advanced incrementally.

An increment is the batch's ``er_chain`` under the ``DeltaStages`` hook
(``ccer.plans.pipeline``), one delta rule per stage. ``features``: the
batch's features tagged ``new`` and unioned with the prior features, so
the batch's own blocking, salting and ``candidate_pairs`` (probe mode)
score exactly the batch candidate pairs that touch a new record — the
already-clustered corpus is never re-scored. ``edges``: the new edges
unioned with the prior ``id → component`` mapping, taken as edges;
connected components over that union equals connected components over
the full edge set, because a component mapping preserves connectivity
of everything already merged. Every other stage runs as in the batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.features import extract_features
from ccer.plans.pipeline import DeltaStages, PipelineConfig, er_chain

PAGE_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def incremental_update(
    spark: SparkSession,
    prior_features: DataFrame | None,
    prior_components: DataFrame | None,
    new_pages: DataFrame,
    config: PipelineConfig | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Advance the clustering by one batch of pages: ``er_chain`` under
    ``DeltaStages`` (see the module docstring for the delta rules).

    Returns (features_all, pairs, components_all, clusters_all, edges):

    0. ``features_all``: the prior features ∪ the batch's features, the
       features columns (no ``new``); pass it back as ``prior_features``;
    1. ``pairs``: this delta's candidate pairs as ``candidate_pairs``
       produced them — every pair touches a new record;
    2. ``components_all``: the ``id → component`` mapping of every
       record in a multi-record component; pass it back as
       ``prior_components``;
    3. ``clusters_all``: every record labeled with its cluster id, in
       ``er_chain``'s clusters schema;
    4. ``edges``: this delta's match edges as ``match_edges`` produced
       them, without the prior mapping.

    ``config`` is the batch's ``PipelineConfig``, passed on as ``er_chain``
    does; with no row count, "auto" simhash bits take the 16-bit floor.
    """
    stages = DeltaStages(prior_features, prior_components)
    clusters = er_chain(new_pages, config or PipelineConfig(), stages)
    return (
        stages.frames["features"].drop("new"),
        stages.frames["pairs"],
        stages.frames["components"],
        clusters,
        stages.frames["edges"],
    )


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
