"""ccer benchmark: one command per workload run.

    python3 perfbench/run.py --workload er_synth --seed 1 --seconds 5 --trace 0

Run from the root of a ccer checkout. The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics; with ``--trace 1``
they are the per-layer metrics of a traced run. Everything else goes to
stderr. See perfbench/README.md for the workloads, the metrics and what
each layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("er_synth", "curation_synth")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def checkout_root() -> str:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ccer", "session.py")):
        sys.exit(f"perfbench: no ccer package under {root}; run from the root of a ccer checkout")
    return root


def session_conf(trace: bool) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return conf


def run_passes(spark, workload, inp, work, seconds):
    """Cold pass, then warm passes until ``seconds`` have been measured
    (at least one). A pass that raises is recorded as None."""
    from workloads import one_pass

    results, t_window = [], None
    while t_window is None or time.perf_counter() - t_window < seconds or len(results) < 2:
        try:
            res = one_pass(workload, spark, inp, os.path.join(work, "stages"))
            log(f"pass {len(results)}: {res.wall_s:.2f}s ok={res.ok} {res.detail}")
        except Exception as exc:
            log(f"pass {len(results)} raised {type(exc).__name__}: {exc}")
            res = None
        results.append(res)
        if t_window is None:
            t_window = time.perf_counter()
        if len(results) >= 2 and all(r is None for r in results):
            break
    return results


def repeat_check(work_root: str, key: str, signature) -> bool:
    """The per-seed output signature (ER row and cluster counts; the
    curation funnel) must repeat exactly across runs of the same program
    sources; the first run of a seed records it."""
    path = os.path.join(work_root, "signatures.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if key in known:
        return known[key] == list(signature)
    known[key] = list(signature)
    with open(path, "w") as fh:
        json.dump(known, fh)
    return True


def end_to_end(host, spark, args, inp, work_root, work, setup_s):
    """Untraced run: cold pass, warm passes, checks; end-to-end metrics."""
    results = run_passes(spark, args.workload, inp, work, args.seconds)
    host.stop_spark(spark)
    done = [r for r in results if r is not None]
    good = [r for r in done if r.ok]
    if results[0] is None or len(done) < 2 or not good:
        return None
    signatures = {r.signature for r in done}
    repeat_ok = len(signatures) == 1 and repeat_check(
        work_root, os.path.basename(inp.path), next(iter(signatures))
    )
    if not repeat_ok:
        log(f"output signature did not repeat: {sorted(signatures)}")
    failed = len(results) - len(good) + (0 if repeat_ok else 1)
    warm = [r.wall_s for r in done[1:]]
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (results[0].wall_s, "s"),
        "pages_per_s": (inp.n / statistics.median(warm), "pages/s"),
        "store_bytes_per_input_byte": (good[-1].store_bytes / inp.input_bytes, "ratio"),
        "f1": (min(r.f1 for r in done), "ratio"),
    }
    return metrics, len(results), failed


def main(argv=None) -> int:
    args = parse_args(argv)
    root = checkout_root()
    sys.path[:0] = [HERE, root]
    import host

    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, "run")
    # everything but the input cache and the recorded signatures starts empty
    for sub in ("run", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work_root, sub), ignore_errors=True)
    host.isolate(work_root)
    host.fit_memory_to_host()

    if args.trace:
        sampler = host.RssSampler()
        sampler.start()
    spark, setup_s = host.start_session(cores, session_conf(False))
    log(f"set-up {setup_s:.2f}s at local[{cores}]")

    import workloads

    inp = workloads.make_inputs(spark, args.workload, args.seed, os.path.join(work_root, "inputs"))
    if args.trace:
        from tracing import traced_run

        spark, metrics, attempted, failed = traced_run(
            spark, args.workload, inp, work, setup_s, cores, session_conf(True)
        )
        metrics["session.peak_rss_mb"] = (sampler.stop(), "MB")
        host.stop_spark(spark)
    else:
        out = end_to_end(host, spark, args, inp, work_root, work, setup_s)
        if out is None:
            log("no usable cold and warm pass; no result")
            return 1
        metrics, attempted, failed = out
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
