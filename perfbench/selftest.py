#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark itself (about eight minutes on 4
cores). Run from the root of a checkout:

    python3 perfbench/selftest.py

Each case runs in its own process, because a JVM holds one SparkSession.
It checks that:

- both workloads, untraced and traced, print every metric with its unit
  and pass their oracles (``fail_ratio`` 0);
- a deliberately corrupted oracle fingerprint makes ``fail_ratio`` rise
  above 0 and the exit code non-zero;
- tracing starts no Spark job (equal job totals with tracing on and off);
- the counter collector sees every job a call starts, including those of
  the engine's prefetch and rollup threads, starts none itself, and loses
  none to status-store retention across a 40-batch replay.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TINY_BULK = {"n_events": 6_000, "warm_probes": 3, "probes": 20, "min_trials": 1}
TINY_QUERY = {"n_lineitem": 6_000, "min_passes": 1}


def _child_workload(workload: str, traced: bool, corrupt: bool) -> int:
    import run

    sizes = TINY_BULK if workload == "bulk_cow" else TINY_QUERY
    return run.run_workload(workload, 7, 0.0, traced, time.perf_counter(), sizes=sizes, corrupt_fingerprint=corrupt)


def _child_collector() -> int:
    """40 one-chunk batches, traced with rollup on and off."""
    import env

    dirs = env.RunDir("selftest-collector")
    import inputs
    from spans import SparkCounters, Tracer

    from observability_platform___databricks_etl_pipeline_spark.gen.changelog import write_wal
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    spark = env.start_spark(dirs, "perfbench-selftest")
    out = {}
    try:
        wal = dirs.sub("wal")
        write_wal(inputs.hot_key_changelog(spark, 4_000, 7), wal, chunk_size=100)
        counters = SparkCounters(spark, env.CORES)
        tr = Tracer("collector", 7, counters)
        for rollup in (True, False):
            eng = CDCEngine(spark, dirs.sub(f"tbl-{rollup}"), n_buckets=env.N_BUCKETS, with_rollup=rollup)
            before = counters.job_count()
            with tr.span("replay", "plans.replay", rollup=rollup) as sp:
                res = eng.replay(wal)
            # taken after the span has read its counters: a job started by
            # the reading itself would make this exceed the jobs seen
            started = counters.job_count() - before
            jobs = sp["jobs"]
            key = "rollup_on" if rollup else "rollup_off"
            out[key] = {
                "batches": len(res.batches),
                "jobs_started": started,
                "jobs_seen": sum(1 for j in jobs if not j.get("lost")),
                "jobs_lost": sum(1 for j in jobs if j.get("lost")),
            }
    finally:
        env.stop_spark(spark)
        dirs.close()
    print(json.dumps(out))
    return 0


def _spawn(*args: str) -> tuple[int, list[str], str]:
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", *args],
        capture_output=True,
        text=True,
        timeout=900,
    )
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main() -> int:
    import workloads

    fails: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            fails.append(what)

    jobs_total: dict[tuple[str, bool], float] = {}
    for wl in ("bulk_cow", "query_mix"):
        for traced in (False, True):
            code, lines, err = _spawn("workload", wl, str(int(traced)), "0")
            tag = f"{wl} trace={int(traced)}"
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                expect(False, f"{tag}: no JSON result (exit {code})\n{err[-2000:]}")
                continue
            expect(code == 0 and res["correct"] and res["failed"] == 0, f"{tag}: correct, fail_ratio 0")
            want = workloads.LAYER if traced else workloads.E2E
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: every metric printed with its unit")
            expect(any(line.startswith(f"{wl} fail_ratio 0 ratio") for line in lines), f"{tag}: fail_ratio line")
            info = {line.split()[1]: line.split()[2] for line in lines[:-1] if line.startswith(wl)}
            jobs_total[(wl, traced)] = float(info.get("spark_jobs_total", -1))
            if traced:
                expect(res["metrics"]["spark.jobs_lost"]["value"] == 0, f"{tag}: no job lost to retention")
        expect(
            jobs_total.get((wl, False)) == jobs_total.get((wl, True)),
            f"{wl}: tracing starts no Spark job ({jobs_total.get((wl, False))} == {jobs_total.get((wl, True))})",
        )

    code, lines, _ = _spawn("workload", "bulk_cow", "0", "1")
    res = json.loads(lines[-1]) if lines else {"failed": 0, "attempted": 1}
    expect(code != 0 and res["failed"] / res["attempted"] > 0, "corrupted fingerprint: fail_ratio > 0, exit != 0")

    code, lines, err = _spawn("collector")
    try:
        c = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        expect(False, f"collector: no result (exit {code})\n{err[-2000:]}")
        return 1
    on, off = c["rollup_on"], c["rollup_off"]
    expect(on["batches"] >= 40, f"collector: {on['batches']} batches replayed")
    expect(on["jobs_lost"] == 0 and off["jobs_lost"] == 0, "collector: no job lost across the replay")
    expect(
        on["jobs_seen"] == on["jobs_started"] and off["jobs_seen"] == off["jobs_started"],
        f"collector: every job of the call seen, none started by reading ({on['jobs_seen']})",
    )
    expect(
        on["jobs_seen"] > off["jobs_seen"],
        f"collector: rollup-thread jobs caught ({on['jobs_seen']} with rollup vs {off['jobs_seen']} without)",
    )
    print("selftest:", "PASS" if not fails else f"{len(fails)} FAILED")
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        import env

        env.check_checkout()
        env.adopt_orphans()
        try:
            if sys.argv[2] == "workload":
                code = _child_workload(sys.argv[3], sys.argv[4] == "1", sys.argv[5] == "1")
            else:
                code = _child_collector()
        finally:
            env.reap_descendants()
        sys.exit(code)
    sys.exit(main())
