"""Workload inputs, passes and per-pass correctness checks.

Every workload goes through ccer's public entry points only
(``run_pipeline``, ``run_curation``, ``incremental_update``); the inputs
are made here from the seed, and the program sees only the generated
pages.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ccer.plans.curation_workflow import run_curation, stage_counts
from ccer.plans.pipeline import run_pipeline
from ccer.sources.catalog import StageStore
from ccer.sources.pages import synthesize_pages
from ccer.streaming.ingest import incremental_update

# Input sizes. A full evaluation is 4 + 22 x workloads runs inside a
# 3,420 s time box, so a run (JVM start, cold pass, one warm pass) must
# stay under a minute on a 4-vCPU host even when the host runs slow; a
# warm pass there is mostly per-stage overhead at any smaller size.
ER_PAGES = 6_000
CURATION_PAGES = 6_000
# share of the er_synth corpus held back as the incremental delta
DELTA_FRAC = 0.1
MIN_F1 = 0.99


@dataclass
class Inputs:
    path: str                 # where the input parquet landed
    pages: DataFrame          # what the program sees: no labels
    labels: DataFrame         # (url, warc_ts, true_cluster_id)
    n: int                    # pages the pass consumes
    input_bytes: int          # on-disk parquet bytes of ``pages``
    delta: DataFrame | None = None
    delta_labels: DataFrame | None = None
    n_delta: int = 0


@dataclass
class PassResult:
    wall_s: float
    ok: bool
    signature: tuple          # must repeat exactly for a given seed
    f1: float
    store_bytes: int          # StageStore bytes on disk after the pass
    detail: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def source_digest() -> str:
    """Digest of the ccer sources, so cached inputs and recorded output
    signatures never outlive the program that made them."""
    import hashlib

    import ccer

    digest = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.dirname(ccer.__file__)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
    return digest.hexdigest()[:16]


def make_inputs(spark: SparkSession, workload: str, seed: int, cache: str) -> Inputs:
    """Synthesize the workload's pages from ``seed`` and land them as
    parquet, so every pass reads the same bytes. Landed inputs are kept
    per seed and program sources, and reused."""
    size = ER_PAGES if workload == "er_synth" else CURATION_PAGES
    path = os.path.join(cache, f"{workload}-{size}-{seed}-{source_digest()}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        fresh_dir(path)
        if workload == "er_synth":
            n_total = int(round(ER_PAGES / (1 - DELTA_FRAC)))
            corpus = synthesize_pages(spark, n_total, seed=seed).persist()
            # the seed picks which pages arrive later as the incremental delta
            late = (F.abs(F.xxhash64("url", F.lit(seed))) % 1000) < int(DELTA_FRAC * 1000)
            corpus.filter(~late).write.parquet(os.path.join(path, "input"))
            corpus.filter(late).write.parquet(os.path.join(path, "delta"))
            corpus.unpersist()
        elif workload == "curation_synth":
            synthesize_pages(spark, CURATION_PAGES, seed=seed).write.parquet(
                os.path.join(path, "input")
            )
        else:
            raise ValueError(f"unknown workload {workload!r}")
        open(os.path.join(path, "_DONE"), "w").close()
    return load_inputs(spark, path)


def load_inputs(spark: SparkSession, path: str) -> Inputs:
    """Bind the landed input parquet under ``path`` to ``spark``."""

    def load(name):
        full = spark.read.parquet(os.path.join(path, name))
        return (
            full.drop("true_cluster_id"),
            full.select("url", "warc_ts", "true_cluster_id"),
            full.count(),
        )

    pages, labels, n = load("input")
    inp = Inputs(path, pages, labels, n, dir_bytes(os.path.join(path, "input")))
    if os.path.isdir(os.path.join(path, "delta")):
        inp.delta, inp.delta_labels, inp.n_delta = load("delta")
    return inp


def pairwise_f1(pred: pd.Series, truth: pd.Series) -> float:
    """Pairwise F1 of a predicted clustering against labels, from the
    contingency table: a pair is predicted when both records share a
    cluster id, true when both share a label."""

    def pairs(counts: pd.Series) -> int:
        c = counts.to_numpy(dtype=np.int64)
        return int((c * (c - 1) // 2).sum())

    tp = pairs(pd.DataFrame({"p": pred, "t": truth}).value_counts())
    n_pred, n_true = pairs(pred.value_counts()), pairs(truth.value_counts())
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    return 2 * precision * recall / (precision + recall) if tp else 0.0


def check_clusters(clusters: DataFrame, labels: DataFrame, n: int) -> tuple[bool, tuple, float, dict]:
    """rows == n (every input page exactly once) and pairwise F1 >= MIN_F1."""
    pdf = (
        clusters.join(labels, ["url", "warc_ts"], "left")
        .select("rid", "cluster_id", "true_cluster_id")
        .toPandas()
    )
    rows = len(pdf)
    labelled = int(pdf["true_cluster_id"].notna().sum())
    unique = int(pdf["rid"].nunique())
    n_clusters = int(pdf["cluster_id"].nunique())
    f1 = pairwise_f1(pdf["cluster_id"], pdf["true_cluster_id"]) if labelled == rows else 0.0
    ok = rows == n and unique == n and labelled == n and f1 >= MIN_F1
    detail = {"rows": rows, "clusters": n_clusters, "f1": round(f1, 6)}
    return ok, (rows, n_clusters), f1, detail


def run_er(spark: SparkSession, inp: Inputs, workdir: str) -> tuple[float, DataFrame]:
    t0 = time.perf_counter()
    clusters = run_pipeline(spark, inp.pages, workdir, resume=False)
    return time.perf_counter() - t0, clusters


def check_er(spark: SparkSession, inp: Inputs, workdir: str, wall: float, clusters: DataFrame) -> PassResult:
    ok, sig, f1, detail = check_clusters(clusters, inp.labels, inp.n)
    return PassResult(wall, ok, sig, f1, dir_bytes(workdir), detail)


def dedup_f1(spark: SparkSession, workdir: str, labels: DataFrame) -> float:
    """F1 of the near-dup sweep's drop decisions. Among the exact-dedup
    survivors, the right call keeps the min doc_id of each true cluster
    and drops every other member; a merged pair of clusters shows up as
    a false drop, a split cluster as a missed one."""
    store = StageStore(spark, workdir)
    exact = (
        store.read("exact").select("doc_id", "url")
        .join(labels.select("url", "true_cluster_id"), "url")
        .toPandas()
    )
    kept = set(store.read("neardup").select("doc_id").toPandas()["doc_id"])
    keep = set(exact.groupby("true_cluster_id")["doc_id"].min())
    should_drop = ~exact["doc_id"].isin(keep)
    dropped = ~exact["doc_id"].isin(kept)
    tp = int((should_drop & dropped).sum())
    if not tp:
        return 0.0
    precision, recall = tp / int(dropped.sum()), tp / int(should_drop.sum())
    return 2 * precision * recall / (precision + recall)


def run_cur(spark: SparkSession, inp: Inputs, workdir: str) -> tuple[float, DataFrame]:
    t0 = time.perf_counter()
    out = run_curation(spark, inp.pages, workdir, resume=False)
    return time.perf_counter() - t0, out


def check_cur(spark: SparkSession, inp: Inputs, workdir: str, wall: float, out: DataFrame) -> PassResult:
    """Funnel rows: docs == n, never growing stage to stage, the returned
    table holds the last stage's rows; near-dup drop F1 >= MIN_F1."""
    funnel = {k: v["rows"] for k, v in stage_counts(workdir).items()}
    f1 = dedup_f1(spark, workdir, inp.labels)
    rows = [funnel.get(k) for k in ("docs", "exact", "neardup", "quality")]
    ok = (
        rows[0] == inp.n
        and all(a is not None and b is not None and a >= b for a, b in zip(rows, rows[1:]))
        and out.count() == rows[-1]
        and f1 >= MIN_F1
    )
    detail = {"funnel": rows, "f1": round(f1, 6)}
    return PassResult(wall, ok, tuple(rows), f1, dir_bytes(workdir), detail)


# workload -> (timed pass, its correctness check)
PASSES = {"er_synth": (run_er, check_er), "curation_synth": (run_cur, check_cur)}


def one_pass(workload: str, spark: SparkSession, inp: Inputs, workdir: str) -> PassResult:
    run, check = PASSES[workload]
    wall, out = run(spark, inp, fresh_dir(workdir))
    return check(spark, inp, workdir, wall, out)


def delta_update(spark: SparkSession, inp: Inputs, workdir: str, out_path: str) -> float:
    """One ``incremental_update`` of the held-back delta against the state
    a completed ER pass left in ``workdir``; the updated clusters are
    written to ``out_path``, which is what a caller of the update pays
    for. Returns the wall seconds."""
    store = StageStore(spark, workdir)
    t0 = time.perf_counter()
    _, _, _, clusters, _ = incremental_update(
        spark, store.read("features"), store.read("components"), inp.delta
    )
    clusters.write.mode("overwrite").parquet(out_path)
    return time.perf_counter() - t0


def check_delta(spark: SparkSession, inp: Inputs, out_path: str, wall: float) -> PassResult:
    ok, sig, f1, detail = check_clusters(
        spark.read.parquet(out_path),
        inp.labels.unionByName(inp.delta_labels),
        inp.n + inp.n_delta,
    )
    return PassResult(wall, ok, sig, f1, 0, detail)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path
