"""The traced run: spans around calls into each ccer layer, Spark task
counters attributed to them, and the Spark-free kernel rates.

Spans are taken from outside the program. The operator names that
``ccer.plans.pipeline`` and ``ccer.plans.curation_workflow`` import are
wrapped so that the first call belonging to a stage opens that stage's
span; ``StageStore.write`` of the stage closes it (the write is where the
lazy plan runs, and the scorer's eager ``localCheckpoint`` runs before
it, inside the span). Each span tags its Spark jobs with
``setJobGroup``; the UI's REST ``/jobs`` maps job groups to stage ids and
``/stages`` gives each stage's task counters.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

# StageStore stage name -> (layer, span)
STAGE_SPANS = {
    "features": ("features", "features"),
    "blocks": ("blocking", "blocks"),
    "pairs": ("blocking", "pairs"),
    "edges": ("scoring", "edges"),
    "components": ("cluster", "cc"),
    "clusters": ("cluster", "assign"),
    "docs": ("plans", "docs"),
    "exact": ("dedup", "exact"),
    "neardup": ("dedup", "neardup"),
    "quality": ("quality", "quality"),
}
# operator names imported by the plan modules -> the stage they build
OPERATOR_STAGES = {
    "ccer.plans.pipeline": {
        "extract_features": "features",
        "block_keys": "blocks",
        "salt_oversized_blocks": "blocks",
        "candidate_pairs": "pairs",
        "score_pairs": "edges",
        "match_edges": "edges",
        "connected_components": "components",
        "assign_clusters": "clusters",
    },
    "ccer.plans.curation_workflow": {
        "exact_dedup": "exact",
        "minhash_neardup_pairs": "neardup",
        "connected_components": "neardup",
        "repetition_signals": "quality",
    },
}
# spans whose full counter set is reported (the rest report s and cpu_s)
LAYER_SPANS = [
    ("features", "features"), ("blocking", "blocks"), ("blocking", "pairs"),
    ("scoring", "edges"), ("cluster", "cc"), ("cluster", "assign"),
    ("dedup", "exact"), ("dedup", "neardup"), ("quality", "quality"),
    ("ingest", "delta"),
]
SPAN_COUNTERS = [
    "s", "self_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "task_skew",
]
AUX_SPANS = [("plans", "docs")]
GROUP_PREFIX = "perfbench:"


class Tracer:
    """Span stack with job-group tagging. ``open_stage``/``close_stage``
    drive the stage spans; ``span`` is the context-manager form."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []   # every span opened, in start order
        self.stack: list[dict] = []   # the open ones
        self._undo: list = []

    def _begin(self, layer: str, name: str, tag_jobs: bool = True) -> dict:
        span = {
            "key": f"{layer}.{name}", "t0": time.perf_counter(),
            "s": 0.0, "children_s": 0.0, "tag": tag_jobs,
        }
        self.spans.append(span)
        self.stack.append(span)
        if tag_jobs:
            self.sc.setJobGroup(GROUP_PREFIX + span["key"], span["key"])
        return span

    def _end(self, span: dict) -> None:
        span["s"] = time.perf_counter() - span["t0"]
        self.stack.remove(span)
        if self.stack:
            self.stack[-1]["children_s"] += span["s"]
        tagged = [s for s in self.stack if s["tag"]]
        if tagged:
            self.sc.setJobGroup(GROUP_PREFIX + tagged[-1]["key"], tagged[-1]["key"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, layer: str, name: str, tag_jobs: bool = True):
        span = self._begin(layer, name, tag_jobs)
        try:
            yield span
        finally:
            self._end(span)

    def open_stage(self, stage: str) -> None:
        layer, name = STAGE_SPANS[stage]
        if not any(s["key"] == f"{layer}.{name}" for s in self.stack):
            self._begin(layer, name)

    def close_stage(self, stage: str) -> None:
        key = "%s.%s" % STAGE_SPANS[stage]
        for span in list(self.stack):
            if span["key"] == key:
                self._end(span)

    # ------------------------------------------------------------ wiring
    def install(self) -> None:
        """Wrap the plan modules' operator names and StageStore.write."""
        import importlib

        from ccer.sources.catalog import StageStore

        for module_name, ops in OPERATOR_STAGES.items():
            module = importlib.import_module(module_name)
            for op, stage in ops.items():
                fn = getattr(module, op)
                setattr(module, op, self._wrap_op(fn, stage))
                self._undo.append((module, op, fn))

        write = StageStore.write
        tracer = self

        def traced_write(store, df, name, *args, **kwargs):
            tracer.open_stage(name)
            with tracer.span("catalog", "write", tag_jobs=False):
                out = write(store, df, name, *args, **kwargs)
            tracer.close_stage(name)
            return out

        StageStore.write = traced_write
        self._undo.append((StageStore, "write", write))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def _wrap_op(self, fn, stage: str):
        def wrapped(*args, **kwargs):
            self.open_stage(stage)
            return fn(*args, **kwargs)

        return wrapped


# ---------------------------------------------------------------- REST
def _get(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1{path}", timeout=60) as resp:
        return json.load(resp)


def stage_counters(spark) -> tuple[dict, dict]:
    """(per job-group counters, app totals) over every completed stage of
    the session. A stage belongs to the first job that lists it (later
    jobs that reuse its shuffle output list it as skipped)."""
    sc = spark.sparkContext
    ui, app = sc.uiWebUrl, sc.applicationId
    base = f"/applications/{app}"
    # the UI's listener applies events asynchronously: wait until no job
    # runs and the completed-stage count stops moving
    last = -1
    for _ in range(100):
        running = _get(ui, f"{base}/jobs?status=running")
        stages = _get(ui, f"{base}/stages?status=complete")
        if not running and len(stages) == last:
            break
        last = len(stages)
        time.sleep(0.3)
    owner: dict[int, str | None] = {}
    for job in sorted(_get(ui, f"{base}/jobs"), key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", []):
            owner.setdefault(sid, job.get("jobGroup"))
    groups: dict[str | None, dict] = {}
    totals = {"cpu_s": 0.0, "gc_s": 0.0}
    for st in stages:
        group = owner.get(st["stageId"])
        g = groups.setdefault(group, {
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_times": [],
        })
        cpu = st.get("executorCpuTime", 0) / 1e9
        gc = st.get("jvmGcTime", 0) / 1e3
        g["cpu_s"] += cpu
        g["gc_s"] += gc
        g["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 2**20
        g["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
        g["spill_mb"] += st.get("diskBytesSpilled", 0) / 2**20
        tasks = _get(
            ui,
            f"{base}/stages/{st['stageId']}/{st['attemptId']}/taskList"
            f"?length=1000000&status=SUCCESS",
        )
        g["task_times"].extend(
            t.get("taskMetrics", {}).get("executorRunTime", 0) for t in tasks
        )
        totals["cpu_s"] += cpu
        totals["gc_s"] += gc
    return groups, totals


def span_metrics(tracer: Tracer, groups: dict, totals: dict) -> dict:
    """Per-span counters plus the attribution check."""
    out: dict[str, float] = {}
    by_key: dict[str, dict] = {}
    for span in tracer.spans:
        agg = by_key.setdefault(span["key"], {"s": 0.0, "children_s": 0.0})
        agg["s"] += span["s"]
        agg["children_s"] += span["children_s"]
    out["catalog.write_s"] = by_key.get("catalog.write", {}).get("s", 0.0)
    unattributed = sum(
        g["cpu_s"] for group, g in groups.items()
        if not (group or "").startswith(GROUP_PREFIX)
    )
    for layer, name in LAYER_SPANS + AUX_SPANS:
        key = f"{layer}.{name}"
        agg = by_key.get(key, {"s": 0.0, "children_s": 0.0})
        g = groups.get(GROUP_PREFIX + key, {})
        out[f"{key}.s"] = agg["s"]
        out[f"{key}.cpu_s"] = g.get("cpu_s", 0.0)
        if (layer, name) in AUX_SPANS:
            continue
        times = g.get("task_times") or []
        med = statistics.median(times) if times else 0
        out[f"{key}.self_s"] = agg["s"] - agg["children_s"]
        out[f"{key}.gc_s"] = g.get("gc_s", 0.0)
        out[f"{key}.shuffle_read_mb"] = g.get("shuffle_read_mb", 0.0)
        out[f"{key}.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0)
        out[f"{key}.spill_mb"] = g.get("spill_mb", 0.0)
        out[f"{key}.task_skew"] = max(times) / med if med else 0.0
    out["unattributed.cpu_s"] = unattributed
    out["trace.attributed_cpu_frac"] = 1 - unattributed / totals["cpu_s"] if totals["cpu_s"] else 0.0
    out["session.gc_s"] = totals["gc_s"]
    return out


# ---------------------------------------------------------- kernels
def kernel_rates(input_path: str, n_docs: int = 4000, min_s: float = 0.2) -> dict:
    """Spark-free ``ccer.functions`` kernel throughput over ``n_docs`` of
    the workload's own texts, in the order the features pass runs them;
    each kernel repeats until it has run ``min_s``."""
    from ccer.functions.hashing import (
        minhash_from_hashes,
        shingle_hashes64,
        simhash_from_hashes,
        spark_minhash_band_keys,
    )
    from ccer.functions.normalize import normalize_text
    from ccer.functions.textsim import jaro_winkler_similarity, levenshtein_ratio

    table = pq.read_table(input_path, columns=["text"])
    texts = [t or "" for t in table.column("text").to_pylist()[:n_docs]]

    def rate(fn, items) -> float:
        done, t0 = 0, time.perf_counter()
        while True:
            for item in items:
                fn(item)
            done += len(items)
            elapsed = time.perf_counter() - t0
            if elapsed >= min_s:
                return done / elapsed

    norms = [normalize_text(t[:4000]) or "" for t in texts]
    words = [n.split() for n in norms]
    shingles = [shingle_hashes64(w, 3, {}) for w in words if len(w) >= 3]
    sigs = np.stack([minhash_from_hashes(sh, num_perm=128) for sh in shingles])
    sig32 = (sigs >> np.uint64(32)).astype(np.uint32).view(np.int32)
    titles = [normalize_text(t.split("\n", 1)[0][:120]) or "" for t in texts]
    prefixes = [n[:128] for n in norms]
    title_pairs = list(zip(titles, titles[1:] + titles[:1]))
    prefix_pairs = list(zip(prefixes, prefixes[1:] + prefixes[:1]))

    def shingle_batch(ws):
        cache: dict = {}   # the features pass keeps one memo per task
        for w in ws:
            shingle_hashes64(w, 3, cache)

    def band_keys(_):
        spark_minhash_band_keys(sig32, 32, 4)

    return {
        "functions.normalize_docs_per_s": rate(lambda t: normalize_text(t[:4000]), texts),
        "functions.shingle_docs_per_s": rate(shingle_batch, [words]) * len(words),
        "functions.minhash_docs_per_s": rate(lambda sh: minhash_from_hashes(sh, num_perm=128), shingles),
        "functions.simhash_docs_per_s": rate(simhash_from_hashes, shingles),
        "functions.bandkey_rows_per_s": rate(band_keys, [None]) * len(sig32),
        "functions.jw_pairs_per_s": rate(lambda p: jaro_winkler_similarity(*p), title_pairs),
        "functions.lev_pairs_per_s": rate(lambda p: levenshtein_ratio(*p), prefix_pairs),
    }


# ------------------------------------------------------------ the run
def _er_counts(spark, workdir: str) -> dict:
    """Blocking, scoring and cluster counts of a completed ER pass: stage
    rows from the manifest, block sizes from the ``blocks`` stage."""
    from pyspark.sql import functions as F

    from ccer.operators.blocking import block_size_profile
    from ccer.plans.curation_workflow import stage_counts
    from ccer.plans.pipeline import PipelineConfig
    from ccer.sources.catalog import StageStore

    rows = {k: v["rows"] for k, v in stage_counts(workdir).items()}
    cap = PipelineConfig().block_cap
    c = F.col("count")
    prof = (
        block_size_profile(StageStore(spark, workdir).read("blocks"))
        .agg(
            F.max(c).alias("max_block"),
            F.sum(F.when(c > cap, 1).otherwise(0)).alias("oversized"),
            F.sum(c * (c - 1) / 2).alias("predicted"),
        )
        .first()
    )
    predicted = float(prof["predicted"] or 0)
    return {
        "features.rows": rows["features"],
        "blocking.block_rows": rows["blocks"],
        "blocking.max_block": prof["max_block"] or 0,
        "blocking.oversized_blocks": prof["oversized"] or 0,
        "blocking.pairs_rows": rows["pairs"],
        "blocking.pairs_predicted": predicted,
        "blocking.pairs_yield": rows["pairs"] / predicted if predicted else 0.0,
        "scoring.edges_rows": rows["edges"],
        "scoring.match_ratio": rows["edges"] / rows["pairs"] if rows["pairs"] else 0.0,
        "cluster.components": (
            StageStore(spark, workdir).read("clusters").select("cluster_id").distinct().count()
        ),
    }


def _curation_counts(spark, workdir: str) -> dict:
    """Near-dup pair count (recomputed from the ``exact`` stage, since the
    sweep never lands its pairs) and the near-dup survivor count."""
    from ccer.operators.dedup import minhash_neardup_pairs
    from ccer.plans.curation_workflow import CurationConfig, stage_counts
    from ccer.sources.catalog import StageStore

    cfg = CurationConfig()
    pairs = minhash_neardup_pairs(
        StageStore(spark, workdir).read("exact"),
        num_perm=cfg.num_perm, est_threshold=cfg.minhash_threshold,
    ).count()
    return {
        "dedup.neardup_pairs_rows": pairs,
        "cluster.components": stage_counts(workdir)["neardup"]["rows"],
    }


COUNT_NAMES = [
    "features.rows", "blocking.block_rows", "blocking.max_block",
    "blocking.oversized_blocks", "blocking.pairs_rows", "blocking.pairs_predicted",
    "blocking.pairs_yield", "scoring.edges_rows", "scoring.match_ratio",
    "cluster.components", "dedup.neardup_pairs_rows", "ingest.delta_rows",
]
CATALOG_STAGES = [
    "features", "blocks", "pairs", "edges", "components", "clusters",
    "docs", "exact", "neardup", "quality",
]
KERNEL_NAMES = [
    "functions.normalize_docs_per_s", "functions.shingle_docs_per_s",
    "functions.minhash_docs_per_s", "functions.simhash_docs_per_s",
    "functions.bandkey_rows_per_s", "functions.jw_pairs_per_s",
    "functions.lev_pairs_per_s",
]
MIN_ATTRIBUTED = 0.99


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = ["session.start_s", "session.gc_s", "session.peak_rss_mb"] + KERNEL_NAMES
    for layer, span in LAYER_SPANS:
        names += [f"{layer}.{span}.{c}" for c in SPAN_COUNTERS]
    names += ["plans.docs.s", "plans.docs.cpu_s"] + COUNT_NAMES
    names += ["catalog.write_s", "catalog.bytes", "catalog.resume_s"]
    names += [f"catalog.{stage}.bytes" for stage in CATALOG_STAGES]
    names += ["unattributed.cpu_s", "trace.attributed_cpu_frac", "trace.overhead"]
    return names


def unit_of(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    if tail.endswith("_per_s"):
        return tail.split("_")[-3] + "/s"
    if tail in ("s", "self_s", "cpu_s", "gc_s", "start_s", "write_s", "resume_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    if tail == "bytes":
        return "bytes"
    if tail in ("task_skew", "pairs_yield", "match_ratio", "attributed_cpu_frac", "overhead"):
        return "ratio"
    return "count"


def traced_run(spark, workload: str, inp, work: str, setup_s: float, cores: int, trace_conf: dict):
    """Spark-free kernel rates; a cold and a warm untraced pass; then a
    fresh SparkContext in the same JVM with the UI on, where one traced
    pass, its counts, a resume over the complete store and (er_synth) one
    incremental delta run under spans. Returns (live session, metrics,
    attempted, failed)."""
    from ccer.session import get_spark
    from workloads import PASSES, check_delta, delta_update, dir_bytes, fresh_dir, load_inputs, one_pass

    metrics: dict[str, float] = {"session.start_s": setup_s}
    metrics.update(kernel_rates(os.path.join(inp.path, "input")))
    wd = os.path.join(work, "stages")
    results = [one_pass(workload, spark, inp, wd) for _ in range(2)]
    untraced_s = results[-1].wall_s

    spark.stop()
    spark = get_spark(app_name="perfbench-traced", cores=cores, extra_conf=trace_conf)
    tracer = Tracer(spark)
    tracer.install()
    try:
        with tracer.span("sources", "input"):
            inp = load_inputs(spark, inp.path)
        run, check = PASSES[workload]
        wall, out = run(spark, inp, fresh_dir(wd))
        with tracer.span("plans", "check"):
            results.append(check(spark, inp, wd, wall, out))
        with tracer.span("plans", "counts"):
            counts = _er_counts(spark, wd) if workload == "er_synth" else _curation_counts(spark, wd)
        with tracer.span("catalog", "resume"):
            resume_wall = _resume(workload, spark, inp, wd)
        if inp.delta is not None:
            out_path = os.path.join(work, "delta_clusters")
            with tracer.span("ingest", "delta"):
                delta_wall = delta_update(spark, inp, wd, out_path)
            with tracer.span("plans", "check"):
                results.append(check_delta(spark, inp, out_path, delta_wall))
            counts["ingest.delta_rows"] = inp.n_delta
    finally:
        tracer.uninstall()
    groups, totals = stage_counters(spark)
    metrics.update(span_metrics(tracer, groups, totals))
    metrics.update(counts)
    metrics["catalog.bytes"] = dir_bytes(wd)
    metrics["catalog.resume_s"] = resume_wall
    for stage in CATALOG_STAGES:
        metrics[f"catalog.{stage}.bytes"] = dir_bytes(os.path.join(wd, stage))
    metrics["trace.overhead"] = wall / untraced_s

    # checks: every pass and the delta; the three passes' output
    # signatures agree; the attribution covers the traced context's CPU
    failed = sum(1 for r in results if not r.ok)
    failed += len({r.signature for r in results[:3]}) != 1
    failed += metrics["trace.attributed_cpu_frac"] < MIN_ATTRIBUTED
    out = {
        name: (float(metrics.get(name, 0.0)), unit_of(name))
        for name in per_layer_names()
        if name != "session.peak_rss_mb"  # sampled by the caller
    }
    return spark, out, len(results) + 2, failed


def _resume(workload: str, spark, inp, workdir: str) -> float:
    """Wall seconds of resuming the workload's plan over its complete store."""
    from ccer.plans.curation_workflow import run_curation
    from ccer.plans.pipeline import run_pipeline

    t0 = time.perf_counter()
    if workload == "er_synth":
        run_pipeline(spark, inp.pages, workdir, resume=True)
    else:
        run_curation(spark, inp.pages, workdir, resume=True)
    return time.perf_counter() - t0
