"""Process environment for one benchmark run: where files go, the Spark
session with the pinned settings, peak memory, and an orderly shutdown.

Everything a run writes lives under ``<checkout>/.perfbench_work/`` (inputs,
tables, Spark local dirs, temp files) and is removed when the run ends; only
traces are kept, in ``<checkout>/.perfbench_traces/``. ``TMPDIR`` is pointed
into the work dir before pyspark is imported, so temp files made by the
package or by Spark's Python side also stay inside the checkout.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "observability_platform___databricks_etl_pipeline_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")

# Pinned settings, the same as bench.py: local[nproc], shuffle
# partitions max(nproc, 8), 32 buckets. The driver heap is capped at 3g so a
# run stays small on a shared machine (bench.py leaves the 8g default).
CORES = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 4
SHUFFLE_PARTITIONS = max(CORES, 8)
N_BUCKETS = 32
DRIVER_MEMORY = "3g"


def check_checkout() -> None:
    """Fail fast, before any work, when the package is not beside us."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: package {PACKAGE!r} not found under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")):
        raise SystemExit(f"perfbench: tests/oracle.py not found under {ROOT}")


class RunDir:
    """A per-process work dir under the checkout, removed on close."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        # before pyspark (and tempfile) are first used: keeps every temp
        # file of this process and its children inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        # every JVM started from here (the launcher and the driver): temp
        # files in the work dir, and no hsperfdata file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.path}/tmp"
        import tempfile

        tempfile.tempdir = None
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        # Python workers unpickle the package's UDFs and need it importable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        )

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


def start_spark(run_dir: RunDir, app_name: str):
    from observability_platform___databricks_etl_pipeline_spark.session import get_spark

    local = run_dir.sub("spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name=app_name,
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def full_gc(spark) -> None:
    """A full GC in the driver JVM, so the timed window starts from a
    collected heap and the warm-up's garbage is not collected inside it."""
    spark.sparkContext._jvm.java.lang.System.gc()


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of the driver JVM and of the Python driver, in MB."""
    pid = jvm_pid()
    jvm = _vm_hwm_kb(pid) if pid is not None else 0
    return jvm / 1024.0, _vm_hwm_kb("self") / 1024.0


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, at any
    depth: a descendant whose parent exits (the launcher shell of the JVM,
    the JVM's Python worker daemon, the multiprocessing resource tracker)
    is re-parented here instead of to init, so ``reap_descendants`` can
    wait for it. Linux only; elsewhere a no-op."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every live or zombie process below this one."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {pid for pid, ppid in parent.items() if ppid in frontier}
        out.extend(frontier)
    return out


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 15.0) -> None:
    """Stop every process this one started and wait until each has ended.

    Stops the multiprocessing resource tracker (it would otherwise outlive
    us until it reads EOF), gives the rest ``grace_s`` to exit on their own,
    then kills what is left. Orphans come back here (``adopt_orphans``), so
    waiting on our own children reaps the whole tree."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:  # noqa: BLE001 - never started, or already gone
        pass
    if not os.path.isdir("/proc"):
        return
    deadline = time.monotonic() + grace_s
    killed = False
    while True:
        _reap_exited()
        left = _descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            if killed:  # killed and still not gone after a second grace
                print(f"perfbench: processes {left} did not exit", file=sys.stderr)
                return
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - best effort, the JVM may be gone
                pass
        if proc is not None:
            try:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway exits on stdin EOF
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
