"""spark-submit entry point for the ccer ER pipeline.

Usage:
    spark-submit --py-files ccer.zip jobs/run_pipeline.py \
        --input /path/to/pages_parquet_or_"synth:N" \
        --workdir /path/to/checkpoints [--resume] [--cores 32] \
        [--config ccer.yaml] [--no-udf] [--metrics]

``--input synth:N`` generates the deterministic N-row synthetic corpus
(no external data); otherwise the argument is a parquet path (or an
Iceberg table name when the catalog has Iceberg) with the input_hint
schema (url, warc_ts, html, text, lang). ``--config`` is a YAML
``ccer.config.CcerConfig``: a column mapping plus any ER setting
(``block_cap: 5``, ``blocking_passes``, ``scorer``, ...).

Prints a one-line JSON summary: rows, clusters, stage timings, workdir,
and the Spark jobs and tasks the run took (``spark_jobs``, ``spark_tasks``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--workdir", required=True)
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument(
        "--no-udf",
        action="store_true",
        help="pure-SQL scorer: zero Python crossings (native levenshtein "
        "in place of the Python string kernels in the ambiguous band)",
    )
    parser.add_argument("--config", default=None, help="YAML config (ccer.config.CcerConfig)")
    parser.add_argument(
        "--metrics",
        action="store_true",
        help="enable the Spark UI and report aggregate executor task "
        "metrics (CPU time, run time, shuffle bytes) in the summary JSON",
    )
    args = parser.parse_args()

    from ccer.config import CcerConfig
    from ccer.operators.scoring import ScoringConfig
    from ccer.plans.curation_workflow import stage_counts
    from ccer.plans.pipeline import run_pipeline
    from ccer.session import get_spark, job_counts, task_metrics
    from ccer.sources.pages import synthesize_pages

    ccer_cfg = CcerConfig.from_yaml(args.config) if args.config else CcerConfig()
    if args.no_udf:
        scoring = ccer_cfg.pipeline.scoring
        ccer_cfg.pipeline.scoring = ScoringConfig(**{**vars(scoring), "backend": "sql"})

    extra_conf = {"spark.ui.enabled": "true"} if args.metrics else None
    spark = get_spark(app_name="ccer-pipeline", cores=args.cores, extra_conf=extra_conf)
    t0 = time.time()
    if args.input.startswith("synth:"):
        pages = synthesize_pages(
            spark, int(args.input.split(":", 1)[1]), with_labels=False
        )
    elif args.input.startswith("table:"):
        pages = spark.read.table(args.input.split(":", 1)[1])
    else:
        pages = spark.read.parquet(args.input)
    pages = ccer_cfg.apply_column_mapping(pages)

    clusters = run_pipeline(
        spark,
        pages,
        args.workdir,
        config=ccer_cfg.pipeline,
        resume=args.resume,
    )
    n_rows = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    timings = {
        name: meta["duration_sec"] for name, meta in stage_counts(args.workdir).items()
    }
    summary = {
        "rows": n_rows,
        "clusters": n_clusters,
        "elapsed_sec": round(time.time() - t0, 2),
        "stage_sec": timings,
        "workdir": args.workdir,
        **job_counts(spark),
    }
    if args.metrics:
        summary["task_metrics"] = task_metrics(spark)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
