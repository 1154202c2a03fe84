"""spark-submit entry point for the ccer ER pipeline.

Usage:
    spark-submit --py-files ccer.zip jobs/run_pipeline.py \
        --input /path/to/pages_parquet_or_"synth:N" \
        --workdir /path/to/checkpoints [--resume] [--cores 32]

``--input synth:N`` generates the deterministic N-row synthetic corpus
(no external data); otherwise the argument is a parquet path (or an
Iceberg table name when the catalog has Iceberg) with the input_hint
schema (url, warc_ts, html, text, lang).

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
    parser.add_argument("--block-cap", type=int, default=500)
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

    from ccer.plans.pipeline import PipelineConfig, run_pipeline
    from ccer.session import get_spark, job_counts, task_metrics
    from ccer.sources.pages import synthesize_pages

    ccer_cfg = None
    if args.config:
        from ccer.config import CcerConfig

        ccer_cfg = CcerConfig.from_yaml(args.config)
        pipeline_config = ccer_cfg.pipeline_config()
    else:
        pipeline_config = PipelineConfig(block_cap=args.block_cap)
    if args.no_udf:
        pipeline_config.scoring.backend = "sql"

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
    if ccer_cfg is not None:
        pages = ccer_cfg.apply_column_mapping(pages)

    clusters = run_pipeline(
        spark,
        pages,
        args.workdir,
        config=pipeline_config,
        resume=args.resume,
    )
    n_rows = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    manifest_path = os.path.join(args.workdir, "_manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    timings = {
        name: meta.get("duration_sec") for name, meta in manifest["stages"].items()
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
