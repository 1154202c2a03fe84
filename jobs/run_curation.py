"""spark-submit entry point for the corpus-curation funnel.

Usage:
    spark-submit --py-files ccer.zip jobs/run_curation.py \
        --input /path/to/pages_parquet_or_"synth:N" \
        --workdir /path/to/checkpoints \
        [--resume] [--cores 32] [--eval /path/to/eval_parquet] \
        [--sample-frac 0.8] [--minhash-threshold 0.7] [--c4]

Runs pages → docs → exact-dedup → near-dup sweep → quality filter →
decontaminate → sample, each stage checkpointed (resume skips complete
stages). Prints one JSON line with the per-stage row funnel, timings and
the Spark jobs and tasks the run took (``spark_jobs``, ``spark_tasks``).
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
    parser.add_argument("--eval", dest="eval_path", default=None,
                        help="parquet of eval docs (text column) to scrub against")
    parser.add_argument("--sample-frac", type=float, default=1.0)
    parser.add_argument("--minhash-threshold", type=float, default=0.7)
    parser.add_argument("--min-tokens", type=int, default=5)
    parser.add_argument("--c4", action="store_true",
                        help="also apply the C4 terminal-punctuation prose gate")
    parser.add_argument("--metrics", action="store_true",
                        help="enable the Spark UI and report aggregate executor "
                        "task metrics in the summary JSON")
    args = parser.parse_args()

    from ccer.plans.curation_workflow import CurationConfig, run_curation, stage_counts
    from ccer.session import get_spark, job_counts, task_metrics
    from ccer.sources.pages import synthesize_pages

    cfg = CurationConfig(
        minhash_threshold=args.minhash_threshold,
        min_tokens=args.min_tokens,
        use_c4=args.c4,
        sample_fraction=args.sample_frac,
    )
    extra_conf = {"spark.ui.enabled": "true"} if args.metrics else None
    spark = get_spark(app_name="ccer-curation", cores=args.cores, extra_conf=extra_conf)
    t0 = time.time()
    if args.input.startswith("synth:"):
        pages = synthesize_pages(
            spark, int(args.input.split(":", 1)[1]), with_labels=False
        )
    else:
        pages = spark.read.parquet(args.input)
    eval_docs = (
        spark.read.parquet(args.eval_path) if args.eval_path else None
    )

    survivors = run_curation(
        spark, pages, args.workdir, config=cfg, resume=args.resume,
        eval_docs=eval_docs,
    )
    n_out = survivors.count()
    funnel = stage_counts(args.workdir)
    summary = {
        "rows_out": n_out,
        "funnel": funnel,
        "elapsed_sec": round(time.time() - t0, 2),
        "workdir": args.workdir,
        **job_counts(spark),
    }
    if args.metrics:
        summary["task_metrics"] = task_metrics(spark)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
