"""Incremental corpus curation: cross-batch exact + near-dup dedup.

The batch curation funnel (``ccer/plans/curation_workflow.py``) assumes
the whole corpus is present. Continuous crawls arrive in batches, and
re-running the funnel over the union every day is O(corpus) per day —
untenable at 10^12 docs. This module advances the dedup state by one
micro-batch at a time with per-batch compute proportional to the BATCH:

- exact dedup:   within-batch min-arrival-id survivor, then an anti-join
                 of 16-byte text digests against the seen-digest state;
- near-dup:      ``candidate_pairs`` probes the batch's MinHash band
                 rows (tagged ``new``) against the bucket state — the
                 batch sweep's own pair generator; pairs with a new
                 endpoint are verified against the signature
                 state, and each OLD endpoint is mapped to its near-dup
                 component label — so a chain
                 A(batch1) ← B(batch2, dropped as near-dup of A) ←
                 C(batch3, near-dup of B but not of A)
                 resolves C into A's component and drops it, exactly as
                 the batch sweep over the union would. Same correctness
                 argument as incremental clustering (ingest.py):
                 a component mapping preserves connectivity of
                 everything already merged.

Survivor rule: min arrival id per component. Arrival ids are assigned
monotonically across batches, so "min id" == "first arrival" — the
survivor an online system actually keeps.

Online-vs-batch divergence (inherent, documented): when a new doc
BRIDGES two previously-emitted survivors (near-dup of both, which batch
mode would have merged into one component keeping only the older), the
already-emitted younger survivor is NOT retracted — an online pipeline
cannot unship a document. The merge is still recorded in a small
``relabels`` table (old component label → merged label), so all FUTURE
matching treats the two components as one; divergence is bounded to the
bridged survivors themselves and does not compound. Each batch
compresses ``relabels`` transitively with ``connected_components`` over
its (old_label, new_label) edges, the engine's one transitive closure:
every relabel points at a smaller label, so a merge chain's component
label is its root, and every old label maps straight to the root.
Batch equality is exact whenever no batch bridges two distinct prior
components (tested), and the bridge behavior itself is pinned by its
own test.

State is O(corpus) storage (signatures + buckets of every doc ever —
the checkpointed-features-stage asymptotics, unavoidable for exact
cross-batch semantics); per-batch shuffle is O(batch + candidates) plus
one pass over the bucket state (``candidate_pairs``' per-block aggregate
reads every state row and keeps the blocks with a new member), and the
corpus-sized state tables are only ever appended to — never rewritten.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.blocking import block_keys, candidate_pairs, join_endpoints
from ccer.operators.cluster import connected_components
from ccer.operators.dedup import estimated_jaccard, text_signatures


@dataclass
class CurationState:
    """Accumulated dedup state. All members are DataFrames the caller
    persists between batches (parquet/StageStore in a real deployment;
    memory in tests). ``relabels`` is small (one row per merged
    component label, compressed); everything else is append-only."""

    seen: DataFrame        # (text_md5 binary, survivor_id long)
    sigs: DataFrame        # (id long, sig array<int>, simhash long) — every doc ever
    buckets: DataFrame     # block_keys rows: (block_key, pass_id, id, simhash)
    comps: DataFrame       # (id long, component long)
    relabels: DataFrame    # (old_label long, new_label long), compressed
    next_id: int


def _apply_relabels(df: DataFrame, col: str, relabels: DataFrame) -> DataFrame:
    """coalesce(relabels[col], col) via a broadcast join — relabels is
    small by construction (merged labels only)."""
    r = relabels.select(
        F.col("old_label").alias(col), F.col("new_label").alias("__nl")
    )
    return (
        df.join(F.broadcast(r), col, "left")
        .withColumn(col, F.coalesce("__nl", col))
        .drop("__nl")
    )


def curate_batch(
    spark: SparkSession,
    state: CurationState | None,
    new_docs: DataFrame,
    text_col: str = "text",
    num_perm: int = 128,
    bands: int = 32,
    est_threshold: float = 0.7,
) -> tuple[DataFrame, CurationState]:
    """Advance the dedup state by one batch; returns (survivors of THIS
    batch, carrying their arrival ``id``, new state).

    ``new_docs``: any DataFrame with ``text_col`` (other columns ride
    along into the survivors). Arrival ids are a global rank by text —
    assigned DISTRIBUTED (range-partition → per-partition row_number +
    driver-side partition offsets), never a single-partition global
    window, so a large catch-up batch doesn't funnel through one
    reducer. Ties among byte-identical texts are broken arbitrarily —
    the copies are indistinguishable for curation purposes. The near-dup
    probe is ``candidate_pairs`` over ``new``-tagged band rows.
    """
    next_id = state.next_id if state is not None else 0

    from pyspark.sql import Window

    n_part = max(2, spark.sparkContext.defaultParallelism)
    # localCheckpoint pins the SAMPLED range boundaries: repartitionByRange
    # re-samples per action, so without it the two consumers below (the
    # per-partition counts and the ranked join) could see different
    # partitionings and ids would be unstable. Cost trade-off, eyes open:
    # this materializes the whole micro-batch — ride-along binary columns
    # included — into executor storage for the batch's lifetime, and
    # truncates lineage, so executor/block loss fails THIS batch job
    # instead of recomputing. That is acceptable here because the caller
    # is a foreachBatch sink: a failed batch is replayed from the
    # streaming source checkpoint, so recoverability moves up a layer
    # rather than being lost. On a giant batch with heavy ride-alongs,
    # pre-project the payload out before calling curate_batch.
    by_range = (
        new_docs.repartitionByRange(n_part, F.col(text_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # per-partition counts are n_part rows — driver-side cumsum is free
    pid_counts = {
        r["__pid"]: r["cnt"]
        for r in by_range.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(n_part):
        offsets.append((pid, acc))
        acc += pid_counts.get(pid, 0)
    batch_n = acc
    off_df = spark.createDataFrame(offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(F.col(text_col))
    ranked = (
        by_range.join(F.broadcast(off_df), "__pid")
        .withColumn("id", F.lit(next_id) + F.col("__off") + F.row_number().over(w))
        .drop("__pid", "__off")
        .withColumn("text_md5", F.unhex(F.md5(F.col(text_col))))
    )

    # ---- exact dedup: within batch, then vs the seen-digest state -----
    keep_ids = ranked.groupBy("text_md5").agg(F.min("id").alias("id"))
    in_batch = ranked.join(keep_ids, ["text_md5", "id"], "left_semi")
    if state is not None:
        exact_survivors = in_batch.join(
            state.seen.select("text_md5"), "text_md5", "left_anti"
        )
    else:
        exact_survivors = in_batch
    exact_survivors = exact_survivors.localCheckpoint(eager=True)

    # ---- near-dup: batch buckets probe the accumulated bucket state ---
    sigs_bands = text_signatures(
        exact_survivors, text_col=text_col, id_col="id", num_perm=num_perm,
        minhash_bands=bands,
    ).localCheckpoint(eager=True)
    buckets_new = block_keys(sigs_bands, passes=("minhash",), minhash_bands=bands)
    # the band keys live on in ``buckets``; the signature state is
    # (id, sig, simhash)
    sigs_new = sigs_bands.drop("bands")
    tagged = buckets_new.withColumn("new", F.lit(True))
    sigs_all = sigs_new
    if state is not None:
        tagged = state.buckets.withColumn("new", F.lit(False)).unionByName(tagged)
        sigs_all = state.sigs.unionByName(sigs_new)
    cand = candidate_pairs(tagged, hamming_prefilter=None)
    edges = (
        estimated_jaccard(cand, sigs_all, num_perm)
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b")
    )
    # map OLD endpoints to their (relabel-compressed) component label so
    # cross-batch chains close transitively
    if state is not None:
        edges = join_endpoints(edges, state.comps, ["component"], how="left").select(
            F.coalesce("component_a", "id_a").alias("id_a"),
            F.coalesce("component_b", "id_b").alias("id_b"),
        )
        edges = _apply_relabels(edges, "id_a", state.relabels)
        edges = _apply_relabels(edges, "id_b", state.relabels)
        edges = edges.filter(F.col("id_a") != F.col("id_b"))
    comps_delta = connected_components(edges).localCheckpoint(eager=True)

    new_ids = sigs_new.select("id")
    new_comps = (
        new_ids.join(comps_delta, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
        .localCheckpoint(eager=True)
    )
    survivors = exact_survivors.join(
        new_comps.filter(F.col("id") == F.col("component")).select("id"),
        "id",
        "left_semi",
    )

    # ---- state update (append-only + small relabel compression) -------
    # prior component labels swallowed by this batch's merges (a bridge
    # doc joined them to an older component) become relabel rows
    # ids assigned THIS batch are > next_id (rank starts at 1), so prior
    # labels are exactly those <= next_id
    relabel_delta = comps_delta.filter(
        (F.col("id") <= next_id) & (F.col("id") != F.col("component"))
    ).select(
        F.col("id").alias("old_label"), F.col("component").alias("new_label")
    )
    relabels = relabel_delta
    if state is not None:
        relabels = state.relabels.unionByName(relabel_delta)
    # transitive compression: every relabel points at a smaller label, so
    # each merge chain is a tree whose root is its minimum — the component
    # label; the non-root members are exactly the relabelled labels
    relabels = (
        connected_components(
            relabels.select(
                F.col("old_label").alias("id_a"), F.col("new_label").alias("id_b")
            )
        )
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("old_label"), F.col("component").alias("new_label"))
    )

    seen_delta = in_batch.select("text_md5", F.col("id").alias("survivor_id"))
    new_state = CurationState(
        seen=state.seen.unionByName(seen_delta) if state is not None else seen_delta,
        sigs=sigs_all,
        buckets=tagged.drop("new"),
        comps=state.comps.unionByName(new_comps) if state is not None else new_comps,
        relabels=relabels,
        next_id=next_id + batch_n,
    )
    return survivors, new_state


# =====================================================================
# State persistence + Structured Streaming wiring
# =====================================================================

_STATE_TABLES = ("seen", "sigs", "buckets", "comps", "relabels")

# Signature/bucket binary format version. Bump whenever the on-disk
# encoding of ``sigs``/``buckets`` changes incompatibly — v4 stores
# ``buckets`` as the ``block_keys`` rows ``candidate_pairs`` probes; v3
# (bucket, id) lacks their columns. v2 (blake2b shingle strings) and v1
# (array<long> sigs) state may load cleanly but their signatures/buckets
# never match new ones, so near-duplicates of pre-upgrade docs would
# silently survive resume.
_STATE_FORMAT_VERSION = 4


def save_state(state: CurationState, path: str) -> None:
    """Persist the dedup state as parquet tables under ``path``. The
    big tables (sigs/buckets/seen/comps) are written in full here for
    simplicity; a deployment appends the per-batch DELTAS instead (every
    table except ``relabels`` is append-only by construction) — the
    read path below is identical either way."""
    import json
    import os

    for name in _STATE_TABLES:
        getattr(state, name).write.mode("overwrite").parquet(
            os.path.join(path, name)
        )
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump(
            {"next_id": state.next_id, "format_version": _STATE_FORMAT_VERSION},
            fh,
        )


def load_state(spark: SparkSession, path: str) -> CurationState:
    import json
    import os

    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    found = meta.get("format_version", 1)
    if found != _STATE_FORMAT_VERSION:
        raise ValueError(
            f"curation state at {path} has format_version={found}, this "
            f"build writes v{_STATE_FORMAT_VERSION}: signatures/buckets "
            "from the old format never match newly computed ones, so "
            "resuming would silently miss near-duplicates of pre-upgrade "
            "docs. Re-run the funnel from the raw corpus (or recompute "
            "sigs/buckets for the persisted survivors) instead of resuming."
        )
    frames = {
        name: spark.read.parquet(os.path.join(path, name))
        for name in _STATE_TABLES
    }
    return CurationState(next_id=meta["next_id"], **frames)


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    text_col: str = "text",
    schema_ddl: str = "url string, warc_ts timestamp, html binary, "
    "text string, lang string",
    trigger_once: bool = True,
    est_threshold: float = 0.7,
):
    """File-source Structured Streaming curation: each micro-batch runs
    ``curate_batch`` against the persisted state, appends its survivors
    to ``<workdir>/curated``, and saves the updated state.

    foreachBatch + the stream checkpoint give exactly-once-per-batch
    appends; state save is batch-atomic at this granularity (a re-run of
    an acked batch re-reads the pre-batch state the same way)."""
    import os

    out_path = os.path.join(workdir, "curated")
    state_path = os.path.join(workdir, "curation_state")
    checkpoint = os.path.join(workdir, "_stream_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state = (
            load_state(sess, state_path)
            if os.path.exists(os.path.join(state_path, "_meta.json"))
            else None
        )
        survivors, new_state = curate_batch(
            sess, state, batch_df, text_col=text_col, est_threshold=est_threshold
        )
        survivors.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_path)
        # localCheckpointed lineage means the state frames are concrete;
        # write to a fresh dir then swap so a mid-write crash never
        # corrupts the readable state
        tmp = state_path + "._tmp"
        save_state(new_state, tmp)
        import shutil

        if os.path.exists(state_path):
            shutil.rmtree(state_path)
        os.replace(tmp, state_path)

    stream = (
        spark.readStream.schema(schema_ddl)
        .parquet(input_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()
