"""Incremental corpus curation: the curation funnel, one batch at a time.

The batch curation funnel (``ccer/plans/curation_workflow.py``) assumes
the whole corpus is present. Continuous crawls arrive in batches, and
re-running the funnel over the union every day is O(corpus) per day —
untenable at 10^12 docs. ``curate_batch`` runs the same funnel,
``curation_chain``, over one batch under the ``CurationDelta`` stage
hook, whose delta rules (see its docstring) dedup the batch against the
accumulated state: arrival ids, an anti-join against the digests of
every earlier text, and a near-dup probe of every prior signature with
each OLD endpoint mapped to its component label — the correctness
argument of incremental clustering (ingest.py): a component mapping
preserves connectivity of everything already merged. Quality, decontam
and sample run as in the batch funnel.

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
compresses ``relabels`` transitively with ``connected_components``, the
engine's one transitive closure. Batch equality is exact whenever no
batch bridges two distinct prior components (tested), and the bridge
behavior itself is pinned by its own test.

State is O(corpus) storage: one ``seen``, ``sigs`` and ``comps`` row per
doc that survived exact dedup, plus the small ``relabels``.
``stream_curate`` stores each batch as a StageStore keyed by its batch
id — the batch's own state rows, the whole ``relabels`` and its
survivors — then commits the batch with one atomic manifest write;
loading reads the committed batches only, so a batch that failed
part-way is invisible until its replay overwrites its stages. Bytes
written per batch are O(batch); the probe still shuffles the band keys
of every prior signature, rebuilt from their stored ``bands``, so a
batch's shuffle grows with the corpus.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.operators.dedup import SIGNATURE_SCHEMA
from ccer.plans.curation_workflow import (
    CurationConfig,
    CurationDelta,
    curation_chain,
    doc_rows,
)
from ccer.sources.catalog import StageStore, load_manifest
from ccer.streaming.ingest import PAGE_SCHEMA_DDL


@dataclass
class CurationState:
    """Accumulated dedup state. ``seen``, ``sigs`` and ``comps`` grow by
    the rows of each batch; ``relabels`` is small (one row per merged
    component label, compressed) and replaced by each batch."""

    seen: DataFrame        # (text_md5 binary, doc_id long)
    sigs: DataFrame        # text_signatures rows (id, sig, simhash, bands)
    comps: DataFrame       # (id long, component long)
    relabels: DataFrame    # (old_label long, new_label long), compressed
    next_id: int


def _advance(
    state: CurationState | None, new_docs: DataFrame, cfg: CurationConfig
) -> tuple[DataFrame, CurationState]:
    """(survivors, the state's advance as ``CurationDelta.delta`` holds
    it): the ``docs`` stage and ``curation_chain`` under the hook."""
    hook = CurationDelta(state, cfg)
    docs = hook.stage("docs", lambda: doc_rows(new_docs))
    return curation_chain(docs, cfg, hook), CurationState(**hook.delta)


def curate_batch(
    spark: SparkSession,
    state: CurationState | None,
    new_docs: DataFrame,
    config: CurationConfig | None = None,
) -> tuple[DataFrame, CurationState]:
    """Advance the dedup state by one batch; returns (survivors of THIS
    batch, new state). ``new_docs`` has the pages' ``url``, ``lang`` and
    ``text``; the survivors are ``docs`` rows ``(doc_id, url, source,
    lang, text)`` whose ``doc_id`` is the arrival id, gated by
    ``config``'s quality (and sample) stages as ``run_curation`` gates
    its output."""
    survivors, new = _advance(state, new_docs, config or CurationConfig())
    if state is not None:
        for table in ("seen", "sigs", "comps"):  # grow by the batch's rows
            setattr(new, table, getattr(state, table).unionByName(getattr(new, table)))
    return survivors, new


# =====================================================================
# State persistence + Structured Streaming wiring
# =====================================================================

_STATE_SCHEMAS = {
    "seen": "text_md5 binary, doc_id long",
    "sigs": SIGNATURE_SCHEMA,
    "comps": "id long, component long",
    "relabels": "old_label long, new_label long",
}

# Version of the stored state. Bump whenever its layout or the encoding
# of ``sigs`` changes incompatibly — v5 stores per-batch stages and
# ``sigs`` with their ``bands`` (no ``buckets`` table); v4 kept five
# whole tables beside a ``_meta.json``; v2/v1 signatures never match new
# ones, so near-duplicates of pre-upgrade docs would silently survive a
# resume.
_STATE_FORMAT_VERSION = 5


def _batch_dir(workdir: str, batch_id: int) -> str:
    return os.path.join(workdir, "batches", str(batch_id))


def _commit_record(workdir: str, cfg: CurationConfig) -> dict | None:
    """The last commit under ``workdir`` (None if there is none). A state
    of another format version or config raises: read as "no state", it
    would re-emit every earlier survivor."""
    commit = load_manifest(workdir).get("commit")
    if commit is None:
        meta = os.path.join(workdir, "curation_state", "_meta.json")
        if not os.path.exists(meta):
            return None
        with open(meta) as fh:
            commit = {"format_version": json.load(fh).get("format_version", 1)}
    found = commit["format_version"]
    if found != _STATE_FORMAT_VERSION:
        raise ValueError(
            f"curation state at {workdir} has format_version={found}, this build "
            f"reads v{_STATE_FORMAT_VERSION}: re-run the stream into a new workdir"
        )
    if commit["fingerprint"] != cfg.fingerprint():
        raise ValueError(
            f"curation state at {workdir} was written under config "
            f"{commit['fingerprint']}, not {cfg.fingerprint()}"
        )
    return commit


def load_state(
    spark: SparkSession, workdir: str, config: CurationConfig | None = None
) -> CurationState | None:
    """The dedup state ``stream_curate`` committed under ``workdir`` with
    ``config`` (None before its first commit); raises on a state of
    another format version or config."""
    commit = _commit_record(workdir, config or CurationConfig())
    if commit is None:
        return None

    def read(table, batches):
        paths = [os.path.join(_batch_dir(workdir, b), table) for b in batches]
        return spark.read.schema(_STATE_SCHEMAS[table]).parquet(*paths)

    batches = commit["batches"]
    return CurationState(
        seen=read("seen", batches),
        sigs=read("sigs", batches),
        comps=read("comps", batches),
        relabels=read("relabels", batches[-1:]),
        next_id=commit["next_id"],
    )


def read_curated(spark: SparkSession, workdir: str) -> DataFrame:
    """The survivors of every batch ``stream_curate`` committed under
    ``workdir``: ``docs`` rows plus the ``batch_id`` that emitted them."""
    batches = load_manifest(workdir)["commit"]["batches"]
    return spark.read.parquet(*[os.path.join(_batch_dir(workdir, b), "curated") for b in batches])


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    workdir: str,
    schema_ddl: str = PAGE_SCHEMA_DDL,
    trigger_once: bool = True,
    config: CurationConfig | None = None,
):
    """File-source Structured Streaming curation: each micro-batch runs
    ``curate_batch``'s chain against the committed state, stores its
    survivors and state advance as the stages of its batch's StageStore
    and commits the batch (see the module docstring); ``read_curated``
    reads the survivors back.

    A replayed batch (the query failed before the stream checkpoint
    acknowledged it) recomputes from the same committed state and
    overwrites its batch's stages, so its survivors land once; a replay
    of a batch that already committed does nothing."""
    cfg = config or CurationConfig()
    checkpoint = os.path.join(workdir, "_stream_checkpoint")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state = load_state(sess, workdir, cfg)
        batches = [] if state is None else load_manifest(workdir)["commit"]["batches"]
        if batch_id in batches:
            return
        survivors, delta = _advance(state, batch_df, cfg)
        store = StageStore(sess, _batch_dir(workdir, batch_id), "parquet", cfg.fingerprint())
        store.write(survivors.withColumn("batch_id", F.lit(batch_id)), "curated")
        for table in _STATE_SCHEMAS:
            store.write(getattr(delta, table), table)
        StageStore(sess, workdir, table_format="parquet").commit({
            "batches": batches + [batch_id],
            "next_id": delta.next_id,
            "format_version": _STATE_FORMAT_VERSION,
            "fingerprint": cfg.fingerprint(),
        })

    stream = (
        spark.readStream.schema(schema_ddl)
        .parquet(input_dir)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        stream = stream.trigger(availableNow=True)
    return stream.start()
