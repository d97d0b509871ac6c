"""Outside-in tracing: spans around the benchmark's calls into the package,
and the Spark job counters of each call, read from the live status store.

Nothing here runs inside the package. A span records name, layer, start,
end, parent and run id; spans stay in memory and are written once, at the
end of the run. ``SparkCounters`` takes the window of job ids that the
DAG scheduler handed out during a call (``numTotalJobs`` before and after),
so jobs started by the engine's prefetch and rollup threads during the call
are caught too, and reads each job's stages through

    sc.statusStore().job(id).stageIds() -> statusStore().stageData(sid, ...)

with ``spark.ui.enabled=false``. Reading the store starts no Spark job. A
job id in the window that the store no longer holds (retention) is counted
in ``jobs_lost`` instead of being silently dropped.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager
from typing import Any

MB = 1024.0 * 1024.0

COUNTER_KEYS = (
    "jobs",
    "jobs_lost",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
)


class SparkCounters:
    """Reads per-call Spark job counters from the driver's status store."""

    def __init__(self, spark, cores: int):
        from py4j.protocol import Py4JJavaError

        self._missing = Py4JJavaError
        sc = spark.sparkContext
        self.cores = cores
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._no_status = gw.jvm.java.util.ArrayList()
        self._counted_stages: set[int] = set()
        self.cost_s = 0.0  # time spent reading counters: the trace overhead

    def job_count(self) -> int:
        """Jobs submitted so far in this application (no job is started)."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def read(self, lo: int, hi: int) -> list[dict[str, Any]]:
        """One record per job id in ``[lo, hi)``: submit and end time (epoch
        s) and the counters of its stages. A stage is counted once, under the
        first job that lists it; skipped stages carry no work. A job id the
        store no longer holds comes back as ``{"job": id, "lost": True}``."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        jobs: list[dict[str, Any]] = []
        for jid in range(lo, hi):
            try:
                job = self._store.job(jid)
            except self._missing:
                jobs.append({"job": jid, "lost": True})
                continue
            sub, end = job.submissionTime(), job.completionTime()
            rec: dict[str, Any] = {k: 0 for k in COUNTER_KEYS}
            rec.update(job=jid, jobs=1, submit=sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0)
            rec["end"] = end.get().getTime() / 1000.0 if end.isDefined() else rec["submit"]
            rec["task_skew"], rec["longest_stage_run_s"] = 1.0, 0.0
            ids = job.stageIds()
            for sid in (int(ids.apply(i)) for i in range(ids.size())):
                if sid not in self._counted_stages:
                    self._add_stage(rec, sid)
            jobs.append(rec)
        self.cost_s += time.perf_counter() - t0
        return jobs

    def _add_stage(self, rec: dict[str, Any], sid: int) -> None:
        attempts = self._store.stageData(sid, False, self._no_status, True, self._quantiles)
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() == "SKIPPED":
                continue
            self._counted_stages.add(sid)
            rec["stages"] += 1
            rec["tasks"] += int(st.numCompleteTasks())
            run_s = st.executorRunTime() / 1000.0
            rec["executor_run_s"] += run_s
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1000.0
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            rec["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            rec["spill_mb"] += st.diskBytesSpilled() / MB
            if run_s > rec["longest_stage_run_s"]:
                rec["longest_stage_run_s"] = run_s
                dist = st.taskMetricsDistributions()
                if dist.isDefined():
                    q = dist.get().executorRunTime()
                    med, mx = float(q.apply(0)), float(q.apply(1))
                    rec["task_skew"] = mx / med if med > 0 else 1.0


def aggregate(jobs: list[dict[str, Any]], wall_s: float, cores: int) -> dict[str, float]:
    """Sum per-job records; skew is that of the longest stage among them;
    busy ratio is executor run time over (wall x cores)."""
    out: dict[str, float] = {k: 0.0 for k in COUNTER_KEYS}
    longest, skew = 0.0, 1.0
    for j in jobs:
        if j.get("lost"):
            out["jobs_lost"] += 1
            continue
        for k in COUNTER_KEYS:
            out[k] += j[k]
        if j["longest_stage_run_s"] > longest:
            longest, skew = j["longest_stage_run_s"], j["task_skew"]
    out["task_skew"] = skew
    out["busy_ratio"] = out["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return out


class Tracer:
    """In-memory spans with optional Spark counters per span."""

    def __init__(self, workload: str, seed: int, counters: SparkCounters | None = None):
        self.run_id = f"{workload}-s{seed}-{uuid.uuid4().hex[:8]}"
        self.counters = counters
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # span bookkeeping time, counters excluded

    @contextmanager
    def span(self, name: str, layer: str, spark: bool = True, **attrs: Any):
        """Time the block; with ``spark`` (and counters attached) also read
        the Spark counters of the jobs it started. Spans that enclose other
        counted spans pass ``spark=False`` so no job is counted twice."""
        t_in = time.perf_counter()
        sp: dict[str, Any] = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        counters = self.counters if spark else None
        lo = counters.job_count() if counters else None
        self.cost_s += time.perf_counter() - t_in
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            wall = time.perf_counter() - t0
            sp["end"] = sp["start"] + wall
            sp["wall_s"] = wall
            t_out = time.perf_counter()
            self._stack.pop()
            if counters is not None:
                self.cost_s += time.perf_counter() - t_out
                sp["jobs"] = counters.read(lo, counters.job_count())
                sp["spark"] = aggregate(sp["jobs"], wall, counters.cores)
            else:
                self.cost_s += time.perf_counter() - t_out

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, **attrs: Any) -> dict:
        """A span measured elsewhere (e.g. a batch bounded by commit times)."""
        sp = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "layer": layer,
            "parent": parent,
            "start": start,
            "end": end,
            "wall_s": end - start,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        return sp

    def overhead_s(self) -> float:
        return self.cost_s + (self.counters.cost_s if self.counters else 0.0)

    def write(self, path: str, summary: dict[str, Any]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary, "spans": self.spans}, f, indent=1, default=str)


def _union_s(ivs: list[tuple[float, float]]) -> float:
    """Length of the union of intervals ``(lo, hi)``."""
    union, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(ivs):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                union += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        union += cur_hi - cur_lo
    return union


def self_time(spans: list[dict[str, Any]], span: dict[str, Any]) -> float:
    """A span's duration minus the part of it its direct children cover."""
    kids = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans
        if c.get("parent") == span["id"] and "end" in c
    ]
    return span["wall_s"] - _union_s(kids)


def job_overlap_s(jobs: list[dict[str, Any]]) -> float:
    """Time jobs ran side by side: the sum of job durations minus the
    length of their union. Work on the engine's prefetch and rollup
    threads shows up here, not as a gap in the phase clock."""
    ivs = [(j["submit"], j["end"]) for j in jobs if not j.get("lost")]
    return sum(hi - lo for lo, hi in ivs) - _union_s(ivs)


def sum_counters(spans: list[dict[str, Any]], cores: int) -> dict[str, float]:
    """Totals over the spans that carry counters (never nested)."""
    jobs = [j for sp in spans if "jobs" in sp for j in sp["jobs"]]
    return aggregate(jobs, sum(sp["wall_s"] for sp in spans if "jobs" in sp), cores)
