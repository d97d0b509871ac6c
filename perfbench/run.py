#!/usr/bin/env python3
"""CDC engine benchmark: one workload per process.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints the workload's named figures, one
``name value unit`` line each, then as the last line one JSON object:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
timed work with spans and Spark counters around every call, reports the
per-layer metrics and writes the spans to ``.perfbench_traces/``. The exit
code is 0 only when every output matched its oracle.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import env  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bulk_cow", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    env.check_checkout()
    env.adopt_orphans()
    try:
        return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        env.reap_descendants()


def run_workload(workload: str, seed: int, seconds: float, traced: bool, t_proc0: float = T_PROC0, sizes=None,
                 corrupt_fingerprint: bool = False) -> int:
    dirs = env.RunDir(workload)  # sets TMPDIR before pyspark is imported
    import workloads as wl
    from spans import SparkCounters, Tracer

    run = wl.Run(workload, seed, seconds, traced, t_proc0, dirs=dirs, corrupt_fingerprint=corrupt_fingerprint)
    try:
        run.spark = env.start_spark(dirs, f"perfbench-{workload}")
        run.info["session_s"] = (run.elapsed(), "s")
        if traced:
            run.counters = SparkCounters(run.spark, env.CORES)
        run.tracer = Tracer(workload, seed, run.counters)
        fn = wl.WORKLOADS[workload]
        fn(run) if sizes is None else fn(run, sizes)
        if traced:
            wl.finish_trace(run)
    except Exception:  # noqa: BLE001 - report the failed run, then exit non-zero
        traceback.print_exc()
        run.check(False, "workload raised")
    finally:
        wl.cleanup(run)

    for name, (value, unit) in run.info.items():
        print(f"{workload} {name} {value:.6g} {unit}")
    if run.attempted:
        print(f"{workload} fail_ratio {run.failed / run.attempted:.6g} ratio")
    for what in run.failures[:20]:
        print(f"FAILED: {what}", file=sys.stderr)
    units = wl.LAYER if traced else wl.E2E
    values = run.layer if traced else run.e2e
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": max(run.attempted, 1),
                "failed": run.failed if run.attempted else 1,
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items() if k in values},
            }
        )
    )
    sys.stdout.flush()
    return 0 if run.failed == 0 and run.attempted > 0 else 1


if __name__ == "__main__":
    # Python-side planning iterates dicts and sets of strings: pin string
    # hashing so every run of a seed plans the same way
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.exit(main())
