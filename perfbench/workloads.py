"""The benchmark's workloads.

``bulk_cow``  backfill: a seeded hot-key WAL in two chunks, replayed into
              fresh copy-on-write tables (rollup on), then point probes, a
              full scan and a change-feed read on the result.
``query_mix`` the 15 headline queries of ``bench.py`` over seeded tables,
              each written to a noop sink. It never touches the replay.

Both report the same end-to-end metrics (see ``E2E``); each also prints the
workload's own named figures (``replay_eps``, ``query_pass_s`` ...) on
stdout. A traced run adds spans with Spark counters around every call and
per-layer metrics (see ``LAYER``); its end-to-end numbers are not used.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

import env
import inputs
import oracles
from spans import SparkCounters, Tracer, aggregate, job_overlap_s, self_time, sum_counters

HEADLINE = [
    "cdc_lww_latest",
    "cdc_hourly_rollup",
    "cdc_prev_event_gap",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_theta_overpriced",
    "topn_per_group",
    "exact_percentiles",
    "doc_exact_dedup",
    "doc_minhash_lsh",
    "doc_simhash_neardup",
    "doc_quality",
    "emb_cosine_topk",
    "emb_neardup_pairs",
    "emb_lsh_topk_batch",
]

# end-to-end metrics, printed by every workload: name -> unit
E2E = {
    "setup_s": "s",
    "job_s": "s",
    "op_p50_ms": "ms",
    "op_p75_ms": "ms",
}

# per-layer metrics, printed by every traced run (0 where the workload
# never calls the layer): name -> unit
_REPLAY_COUNTS = ("rows_read", "deduped", "inserted", "updated", "deleted", "stale_ignored", "quarantined")
LAYER = {
    "gen.wal_write_s": "s",
    "wal.chunk_scan_s": "s",
    "functions.native_rows_per_s": "rows/s",
    "functions.pandas_rows_per_s": "rows/s",
    "replay.wall_s": "s",
    "replay.control_s": "s",
    "replay.merge_transform_write_s": "s",
    "replay.commit_manifest_s": "s",
    "replay.rollup_submit_s": "s",
    "replay.phase_sum_s": "s",
    "replay.overlap_s": "s",
    "replay.batch_cover": "ratio",
    **{f"replay.{k}": "count" for k in _REPLAY_COUNTS},
    "replay.bytes_written": "bytes",
    "replay.useful_ratio": "ratio",
    "lakevault.files_live": "count",
    "lakevault.manifest_refs": "count",
    "lakevault.probe_files_examined": "files/probe",
    "lakevault.probe_ms": "ms",
    "lakevault.full_scan_s": "s",
    "lakevault.changes_s": "s",
    "lakevault.write_amp": "ratio",
    "lakevault.space_amp": "ratio",
    "ds.full_scan_s": "s",
    "ds.probe_ms": "ms",
    **{f"queries.{q}_s": "s" for q in HEADLINE},
    "spark.jobs": "count",
    "spark.jobs_lost": "count",
    "spark.jobs_total": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.busy_ratio": "ratio",
    "trace.spans": "count",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}

# workload sizes; the self-test shrinks them
BULK = {"n_events": 30_000, "warm_probes": 20, "probes": 40, "min_trials": 2}
QUERY = {"n_lineitem": 10_000, "min_passes": 2}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    t_proc0: float
    spark: Any = None
    dirs: env.RunDir | None = None
    tracer: Tracer | None = None
    counters: SparkCounters | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    info: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    corrupt_fingerprint: bool = False  # self-test: prove the gate bites

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.failures.append(what)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_proc0


def _peak_rss(run: Run) -> None:
    """Printed, not gated: with G1's adaptive heap sizing the driver JVM's
    peak spread by up to 0.27 (IQR/median) over ten runs of one workload,
    more than any bound the benchmark may set."""
    jvm, py = env.peak_rss_mb()
    run.info["peak_rss_mb"] = (jvm + py, "MB")
    run.info["peak_rss_jvm_mb"] = (jvm, "MB")
    run.info["peak_rss_py_mb"] = (py, "MB")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, n: int) -> float:
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _pct(xs: list[float], p: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---- bulk_cow -------------------------------------------------------------------


def _probe(vault, key: tuple[str, str]) -> list:
    """One point lookup, as a reader would make it: the key-pruned scan with
    the row predicate applied, collected."""
    from pyspark.sql import functions as F

    pred = (F.col("repo") == key[0]) & (F.col("path") == key[1])
    return vault.scan(key_equals=key).where(pred).collect()


def _warm_replay(run: Run, wal: str, first_chunk: int, keys: list) -> None:
    """One small untimed replay, of the WAL's first chunk into a throwaway
    table, plus the read calls. A replay's cost is almost all fixed per
    batch (30k and 90k events take the same time on 4 cores), so one batch
    warms the JIT, codegen cache and Python worker pool at half the cost
    of a whole trial. The probes warm both probe paths (a key that prunes
    to a file, and one that prunes to none): without them the first round
    of probes ran ~45% slower than the next ones."""
    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    eng = CDCEngine(run.spark, run.dirs.sub("warm-tbl"), n_buckets=env.N_BUCKETS, with_rollup=True)
    eng.replay(wal, chunks=[first_chunk])
    for key in keys:
        _probe(eng.vault, key)
    _noop(eng.current_state())
    _noop(eng.changes(eng.vault.snapshot_ids()[0]))


def _mid_snapshot(vault) -> int:
    """Last snapshot that holds exactly the first batch: the state after
    chunk 0 (a following schema-only commit keeps the same rows)."""
    mid = 0
    for sid in vault.snapshot_ids():
        if len(vault.snapshot(sid).committed_batches) == 1:
            mid = sid
    return mid


def _commit_times(vault) -> list[float]:
    """mtime of each snapshot file that committed a new batch, in order."""
    snap_dir = os.path.join(vault.vault_dir, "snapshots")
    out, prev = [], 0
    for sid in vault.snapshot_ids():
        n = len(vault.snapshot(sid).committed_batches)
        if n > prev:
            out.append(os.stat(os.path.join(snap_dir, f"snap-{sid}.json")).st_mtime)
            prev = n
    return out


def _batch_spans(run: Run, vault, replay_span: dict) -> None:
    """Per-batch spans bounded by snapshot-file mtimes, each with the Spark
    counters of the jobs submitted inside it; a last span covers the tail
    (checkpoint, rollup drain) after the final commit."""
    bounds = [replay_span["start"]] + _commit_times(vault) + [replay_span["end"]]
    jobs = [j for j in replay_span.get("jobs", []) if not j.get("lost")]
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        last = i == len(bounds) - 2
        mine = [j for j in jobs if lo <= j["submit"] < hi or (last and j["submit"] >= hi)]
        sp = run.tracer.add("tail" if last else f"batch{i}", "plans.replay", lo, hi, replay_span["id"])
        if run.counters is not None:
            sp["spark"] = aggregate(mine, max(hi - lo, 1e-9), run.counters.cores)


def bulk_cow(run: Run, sizes: dict = BULK) -> None:
    from pyspark.sql import functions as F

    from observability_platform___databricks_etl_pipeline_spark.plans.replay import CDCEngine

    tr = run.tracer
    wal = run.dirs.sub("wal")
    with tr.span("write_wal", "gen") as sp:
        chunks = inputs.write_bulk_wal(run.spark, wal, sizes["n_events"], run.seed)
    gen_s = sp["wall_s"]
    keys = inputs.probe_keys(wal, sizes["probes"], run.seed)
    with tr.span("warm_up", "setup", spark=False) as warm:
        _warm_replay(run, wal, chunks[0], keys[: sizes["warm_probes"]])
    env.full_gc(run.spark)
    run.e2e["setup_s"] = run.elapsed()
    run.info["input_s"] = (gen_s, "s")
    run.info["warm_up_s"] = (warm["wall_s"], "s")

    # -- timed: replay trials into fresh tables, then the read phase ----------
    t_start = time.perf_counter()
    trials: list[dict[str, Any]] = []
    while True:
        if trials:
            env.full_gc(run.spark)  # every trial starts from a collected heap
        root = run.dirs.sub(f"tbl{len(trials)}")
        eng = CDCEngine(run.spark, root, n_buckets=env.N_BUCKETS, with_rollup=True)
        t0 = time.perf_counter()
        with tr.span("replay", "plans.replay", trial=len(trials)) as rsp:
            res = eng.replay(wal)
        trials.append({"wall": time.perf_counter() - t0, "eng": eng, "res": res, "span": rsp})
        for b in res.batches:
            run.check(not b.skipped and b.conserved(), f"batch {b.chunk} of trial {len(trials)} not conserved")
        done = time.perf_counter() - t_start >= run.seconds
        if done and len(trials) >= sizes["min_trials"]:
            break
    eng, vault = trials[-1]["eng"], trials[-1]["eng"].vault
    snap = vault.snapshot()
    mid = _mid_snapshot(vault)
    env.full_gc(run.spark)  # between the timed trials and the timed probes
    probe_ms, probe_rows = [], []
    for key in keys:
        t0 = time.perf_counter()
        with tr.span("probe", "plans.lakevault"):
            rows = _probe(vault, key)
        probe_ms.append((time.perf_counter() - t0) * 1000.0)
        probe_rows.append(rows)
    with tr.span("full_scan", "plans.lakevault") as scan:
        _noop(eng.current_state())
    with tr.span("changes", "plans.lakevault", from_snapshot=mid) as feed_span:
        _noop(eng.changes(mid))
    _peak_rss(run)
    jobs_total = run.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    job_s = statistics.median(t["wall"] for t in trials)
    run.e2e["job_s"] = job_s
    run.e2e["op_p50_ms"] = _pct(probe_ms, 50)
    run.e2e["op_p75_ms"] = _pct(probe_ms, 75)

    batches = [b for t in trials for b in t["res"].batches]
    live_files = [f for f in snap.files if not f.get("eq_delete")]
    file_bytes = sum(f.get("bytes", 0) for f in live_files)
    live = eng.current_state()
    content_bytes = live.agg(F.sum(F.octet_length("content"))).collect()[0][0] or 1
    write_amp = sum(b.bytes_written for b in batches) / max(sum(b.logical_bytes for b in batches), 1)
    space_amp = file_bytes / content_bytes
    commit_ts = _commit_times(vault)
    gaps = [b - a for a, b in zip([trials[-1]["span"]["start"]] + commit_ts, commit_ts)]
    run.info.update(
        {
            "replay_eps": (sizes["n_events"] / job_s, "events/s"),
            "batch_p50_s": (_pct(gaps, 50), "s"),
            "batch_p75_s": (_pct(gaps, 75), "s"),
            "write_amp": (write_amp, "ratio"),
            "space_amp": (space_amp, "ratio"),
            "lookup_p50_ms": (run.e2e["op_p50_ms"], "ms"),
            "lookup_p75_ms": (run.e2e["op_p75_ms"], "ms"),
            "full_scan_s": (scan["wall_s"], "s"),
            "changes_s": (feed_span["wall_s"], "s"),
            "spark_jobs_total": (jobs_total, "count"),
            "replay_trials": (len(trials), "count"),
            "probes": (len(probe_ms), "count"),
        }
    )

    if run.traced:
        _bulk_layers(run, wal, chunks, trials, keys, gen_s, write_amp, space_amp, jobs_total)

    # -- correctness, outside the timed window ----------------------------------
    t_check = time.perf_counter()
    final, before = oracles.replay_states(env.ROOT, wal, chunks[0])
    extra = "quality_score" if "quality_score" in live.columns else None
    want = oracles.oracle_fingerprint(final, extra)
    if run.corrupt_fingerprint:
        want = (want[0], want[1] + 1)
    for i, t in enumerate(trials):
        got = oracles.table_fingerprint(t["eng"].current_state(), extra)
        run.check(got == want, f"trial {i}: final-state fingerprint {got} != oracle {want}")
    run.check(oracles.table_fingerprint(live, extra) == want, "full scan differs from oracle")
    for key, rows in zip(keys, probe_rows):
        run.check(oracles.probe_ok(rows, key, final), f"probe {key} differs from oracle")
    feed = eng.changes(mid).select("repo", "path", "_change_type", "content_sha256", "last_seq").collect()
    run.check(oracles.changes_ok(feed, oracles.expected_changes(before, final)), "change feed differs from oracle")
    run.info["check_s"] = (time.perf_counter() - t_check, "s")


def _bulk_layers(run, wal, chunks, trials, keys, gen_s, write_amp, space_amp, jobs_total) -> None:
    """Per-layer metrics of a traced bulk_cow run: the replay's own phase
    clock and batch metrics, table metadata, and extra timed calls into
    the layers the replay uses (WAL scan, transform functions, the data
    source read path)."""
    from pyspark.sql import functions as F

    from observability_platform___databricks_etl_pipeline_spark.functions.classify import classify_op_expr
    from observability_platform___databricks_etl_pipeline_spark.functions.langinfer import infer_lang_expr
    from observability_platform___databricks_etl_pipeline_spark.functions.sanitize import sanitize_guarded_expr
    from observability_platform___databricks_etl_pipeline_spark.functions.transform import transform_udf
    from observability_platform___databricks_etl_pipeline_spark.plans.sparkhash import bucket_of
    from observability_platform___databricks_etl_pipeline_spark.sources.lakevault_ds import LakeVaultDataSource
    from observability_platform___databricks_etl_pipeline_spark.sources.wal import read_chunk

    spark, tr, L = run.spark, run.tracer, run.layer
    timed_spans = [sp for sp in tr.spans if "jobs" in sp and sp["layer"] != "gen"]
    L["spark.jobs_total"] = jobs_total
    # per-replay view of the replay layer: medians over trials
    phases = ("control_phase", "merge_transform_write", "commit_manifest", "rollup_submit")
    names = ("control_s", "merge_transform_write_s", "commit_manifest_s", "rollup_submit_s")
    for ph, nm in zip(phases, names):
        L[f"replay.{nm}"] = statistics.median(t["eng"].phase_seconds.get(ph, 0.0) for t in trials)
    walls = [t["wall"] for t in trials]
    sums = [sum(t["eng"].phase_seconds.values()) for t in trials]
    L["replay.wall_s"] = statistics.median(walls)
    L["replay.phase_sum_s"] = statistics.median(sums)
    L["replay.overlap_s"] = statistics.median(job_overlap_s(t["span"]["jobs"]) for t in trials)
    covers = []
    for t in trials:
        _batch_spans(run, t["eng"].vault, t["span"])
        kids = [sp for sp in tr.spans if sp.get("parent") == t["span"]["id"] and sp["name"] != "tail"]
        covers.append(sum(k["wall_s"] for k in kids) / t["span"]["wall_s"])
    L["replay.batch_cover"] = statistics.median(covers)
    res = trials[-1]["res"]
    for k in _REPLAY_COUNTS:
        L[f"replay.{k}"] = sum(getattr(b, k) for b in res.batches)
    L["replay.bytes_written"] = sum(b.bytes_written for b in res.batches)
    applied = sum(b.inserted + b.updated + b.deleted for b in res.batches)
    L["replay.useful_ratio"] = applied / max(L["replay.rows_read"], 1)

    vault = trials[-1]["eng"].vault
    snap = vault.snapshot()
    L["lakevault.files_live"] = sum(1 for f in snap.files if not f.get("eq_delete"))
    L["lakevault.manifest_refs"] = len(snap.manifest_refs)
    types = {c["name"]: c["type"] for c in snap.schema.columns}
    examined = [
        len(
            vault.pruned_files(
                snap,
                buckets=[bucket_of(list(k), snap.n_buckets or env.N_BUCKETS, types=[types["repo"], types["path"]])],
                key_range=(k[0], k[0]),
            )
        )
        for k in keys
    ]
    L["lakevault.probe_files_examined"] = statistics.mean(examined)
    by_name: dict[str, list[float]] = {}
    for sp in timed_spans:
        by_name.setdefault(sp["name"], []).append(sp["wall_s"])
    L["lakevault.probe_ms"] = statistics.median(by_name["probe"]) * 1000.0
    L["lakevault.full_scan_s"] = by_name["full_scan"][0]
    L["lakevault.changes_s"] = by_name["changes"][0]
    L["lakevault.write_amp"] = write_amp
    L["lakevault.space_amp"] = space_amp
    # Spark counters per replay call (the workload's job), skew and busy
    # ratio from the replay calls only
    rep = sum_counters([sp for sp in timed_spans if sp["name"] == "replay"], run.counters.cores)
    for k, v in rep.items():
        if k not in ("task_skew", "busy_ratio", "jobs_lost"):
            v = v / len(trials)
        L[f"spark.{k}"] = v
    L["spark.jobs_lost"] = sum_counters(timed_spans, run.counters.cores)["jobs_lost"]
    L["gen.wal_write_s"] = gen_s

    # extra calls, after the timed window: one per layer the replay uses
    c0 = chunks[0]
    ctrl = read_chunk(spark, wal, c0).select("seq", "repo", "path", "commit", "op")
    with tr.span("read_chunk", "sources.wal"):
        L["wal.chunk_scan_s"] = _median_time(lambda: _noop(ctrl), 3)
    chunk = read_chunk(spark, wal, c0)
    n_rows = chunk.count()
    native = chunk.select(
        classify_op_expr(F.col("op"), F.col("content")).alias("op"),
        sanitize_guarded_expr(F.col("content")).alias("content"),
        infer_lang_expr(F.col("path"), F.col("content")).alias("lang"),
    )
    with tr.span("native_transform", "functions", rows=n_rows):
        L["functions.native_rows_per_s"] = n_rows / _median_time(lambda: _noop(native), 3)
    pandas = chunk.select(transform_udf(F.col("op"), F.col("path"), F.col("content")).alias("t"))
    with tr.span("transform_udf", "functions", rows=n_rows):
        L["functions.pandas_rows_per_s"] = n_rows / _median_time(lambda: _noop(pandas), 3)
    spark.dataSource.register(LakeVaultDataSource)
    root = vault.root
    ds = spark.read.format("lakevault").load(root)
    with tr.span("ds_full_scan", "sources.lakevault_ds"):
        L["ds.full_scan_s"] = _median_time(lambda: _noop(ds.where(~F.col("is_deleted"))), 3)
    ds_ms = []
    for key in keys[:20]:
        t0 = time.perf_counter()
        with tr.span("ds_probe", "sources.lakevault_ds"):
            ds.where((F.col("repo") == key[0]) & (F.col("path") == key[1])).collect()
        ds_ms.append((time.perf_counter() - t0) * 1000.0)
    L["ds.probe_ms"] = statistics.median(ds_ms)


# ---- query_mix ------------------------------------------------------------------


def _query_pass(run: Run, sf_dir: str) -> dict[str, float]:
    from observability_platform___databricks_etl_pipeline_spark.queries import QUERIES

    out = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        with run.tracer.span(name, "queries"):
            _noop(QUERIES[name](run.spark, sf_dir))
        out[name] = time.perf_counter() - t0
    return out


def query_mix(run: Run, sizes: dict = QUERY) -> None:
    from observability_platform___databricks_etl_pipeline_spark.queries import ORACLES, QUERIES

    tr = run.tracer
    sf_dir = run.dirs.sub("tables")
    with tr.span("write_tables", "setup", spark=False) as sp:
        inputs.write_query_tables(sf_dir, sizes["n_lineitem"], run.seed)
    run.info["input_s"] = (sp["wall_s"], "s")
    # warm-up: one pass that collects every result; the results are the
    # outputs checked against the oracles below. The queries run side by
    # side, one thread each: a cold query keeps the cores mostly idle
    # (driver planning, code generation, Python worker start); on 4 cores
    # the pass takes ~15 s this way and ~21 s on 4 threads.
    def warm(q: str):
        return QUERIES[q](run.spark, sf_dir).toPandas()

    results: dict[str, Any] = {}
    with tr.span("warm_up", "setup", spark=False) as warm_span:
        with ThreadPoolExecutor(max_workers=len(HEADLINE)) as pool:
            futures = {q: pool.submit(warm, q) for q in HEADLINE}
        for q, fut in futures.items():
            try:
                results[q] = fut.result()
            except Exception as e:  # noqa: BLE001 - a raising query is a failed op
                run.failures.append(f"{q}: {type(e).__name__}: {e}")
    env.full_gc(run.spark)
    run.e2e["setup_s"] = run.elapsed()
    run.info["warm_up_s"] = (warm_span["wall_s"], "s")

    t_start = time.perf_counter()
    passes: list[dict[str, float]] = []
    pass_s: list[float] = []
    while True:
        t0 = time.perf_counter()
        passes.append(_query_pass(run, sf_dir))
        pass_s.append(time.perf_counter() - t0)
        if time.perf_counter() - t_start >= run.seconds and len(passes) >= sizes["min_passes"]:
            break
    _peak_rss(run)
    jobs_total = run.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    # a query's latency is its median over the passes; the percentiles
    # are taken over the 15 queries
    per_query_s = {q: statistics.median(p[q] for p in passes) for q in HEADLINE}
    lat = [v * 1000.0 for v in per_query_s.values()]
    run.e2e["job_s"] = statistics.median(pass_s)
    run.e2e["op_p50_ms"] = _pct(lat, 50)
    run.e2e["op_p75_ms"] = _pct(lat, 75)
    run.info.update(
        {
            "query_pass_s": (run.e2e["job_s"], "s"),
            "query_passes": (len(passes), "count"),
            "spark_jobs_total": (jobs_total, "count"),
        }
    )

    if run.traced:
        L = run.layer
        qspans = [sp for sp in tr.spans if sp["layer"] == "queries"]
        for q in HEADLINE:
            L[f"queries.{q}_s"] = per_query_s[q]
        tot = sum_counters(qspans, run.counters.cores)
        for k, v in tot.items():
            if k not in ("task_skew", "busy_ratio", "jobs_lost"):
                v = v / len(passes)
            L[f"spark.{k}"] = v
        L["spark.jobs_total"] = jobs_total

    # -- correctness, outside the timed window ----------------------------------
    t_check = time.perf_counter()
    want = oracles.duckdb_answers(sf_dir, {q: ORACLES[q] for q in HEADLINE})
    for q in HEADLINE:
        if q not in results:
            ok = False
        elif q == "emb_neardup_pairs":
            ok, missed = oracles.neardup_pairs_ok(results[q], want[q], sf_dir)
            run.info[f"{q}_split_pairs"] = (missed, "count")
        else:
            ok = oracles.frames_match(results[q], want[q])
        run.check(ok, f"query {q} differs from its DuckDB oracle", n=len(passes))
    run.info["check_s"] = (time.perf_counter() - t_check, "s")


WORKLOADS = {"bulk_cow": bulk_cow, "query_mix": query_mix}


def finish_trace(run: Run) -> None:
    """Fill the trace.* metrics, zero the layers this workload never calls,
    and write the spans once."""
    tr = run.tracer
    wall = sum(sp["wall_s"] for sp in tr.spans if sp.get("jobs") is not None)
    over = tr.overhead_s()
    run.layer["trace.spans"] = len(tr.spans)
    run.layer["trace.overhead_s"] = over
    run.layer["trace.overhead_pct"] = 100.0 * over / wall if wall > 0 else 0.0
    for name in LAYER:
        run.layer.setdefault(name, 0.0)
    selfs = {}
    for sp in tr.spans:
        if sp["layer"] == "plans.replay" and sp["name"] == "replay":
            selfs[sp["id"]] = self_time(tr.spans, sp)
    os.makedirs(env.TRACE_DIR, exist_ok=True)
    tr.write(
        os.path.join(env.TRACE_DIR, f"{run.workload}-seed{run.seed}.json"),
        {
            "layer": run.layer,
            "info": run.info,
            "replay_self_s": selfs,
            "note": "replay spans: batch children are bounded by snapshot-file mtimes and "
            "hold the Spark jobs submitted inside them; the prefetched control phase and "
            "the async rollup run beside the merge, so phase and job times do not add up "
            "to the wall time: replay.overlap_s is the time Spark jobs of one replay ran "
            "side by side.",
        },
    )


def cleanup(run: Run) -> None:
    if run.spark is not None:
        env.stop_spark(run.spark)
    if run.dirs is not None:
        run.dirs.close()
