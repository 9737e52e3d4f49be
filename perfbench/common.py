"""Plumbing shared by the workloads: run hygiene, the Spark session, the
closed-loop op runner with failure accounting, and the diagnostics
(host probe, peak memory).

Nothing here starts a process or touches a file at import time; the
session and the run's temp root are created by the caller.
"""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# One Python worker thread per task: the session already runs one task per
# core, so BLAS/OpenMP pools inside workers would only oversubscribe.
_THREAD_ENV = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


# Driver heap, pinned below physical memory; -Xms equals it so the heap
# does not resize with run timing (peak RSS then repeats to ~2%, but is
# bounded below by the heap, see ``old_gen_peak_mb``).
HEAP = "2g"


def pin_environment(tmp: str, checkout: str) -> None:
    """Pin the engine's resources and send every temporary write into ``tmp``.

    Must run before the JVM starts: Spark, the Python workers and Derby
    read these at launch.
    """
    for sub in ("local", "pytmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    for k in _THREAD_ENV:
        os.environ[k] = "1"


def start_session(tmp: str, event_log: bool = False):
    """The engine's own ``get_spark`` with the run's temporary dirs; the
    event log (for the traced run) goes to ``tmp/events``."""
    from airflow_postgres_csv_spark.session import get_spark

    for sub in ("warehouse", "derby", "jtmp", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Dderby.system.home={os.path.join(tmp, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jtmp')}"
        ),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf["spark.eventLog.dir"] = os.path.join(tmp, "events")
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", extra_conf=conf)


def write_parquet(path: str, columns: dict, files: int = 1) -> None:
    """Stage an input as ``files`` parquet files of contiguous rows, written
    by pyarrow (no Spark job), under directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(columns)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def stop_jvm(spark) -> None:
    """Stop ``spark`` and the JVM pyspark launched for it; wait for the JVM
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class CheckFailed(AssertionError):
    """An engine output disagreed with the benchmark's own model."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Op:
    """One call into one layer. ``run`` performs the call and consumes its
    result; ``verify`` compares that result with the model (untimed)."""

    span: str
    phase: int
    run: Callable[[], Any]
    verify: Callable[[Any], None]


class Tally:
    """Operations attempted and failed; a raised exception and a failed
    check both count as one failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, span: str, exc: BaseException) -> None:
        self.failed += 1
        if self.failed <= 5:
            print(f"[perfbench] FAILED {span}: {exc!r}", file=sys.stderr)
            if not isinstance(exc, CheckFailed):
                traceback.print_exception(exc, file=sys.stderr)


class Spans:
    """Wall-clock windows of the ops, kept in memory until the run ends.
    Only filled in the traced run."""

    def __init__(self) -> None:
        self.records: list[tuple[str, float, float]] = []

    def add(self, span: str, start: float, end: float) -> None:
        self.records.append((span, start, end))


def run_op(op: Op, tally: Tally, spans: Spans | None = None) -> float:
    """Run one op closed-loop; return its wall seconds (checks excluded)."""
    tally.attempted += 1
    w0 = time.time()
    t0 = time.perf_counter()
    try:
        out = op.run()
    except Exception as exc:  # the op failed: count it, keep the loop going
        dt = time.perf_counter() - t0
        tally.fail(op.span, exc)
        return dt
    dt = time.perf_counter() - t0
    if spans is not None:
        spans.add(op.span, w0, w0 + dt)
    try:
        op.verify(out)
    except Exception as exc:  # a failed check or a crash inside it
        tally.fail(op.span, exc)
    return dt


def run_iteration(ops: list[Op], tally: Tally, spans: Spans | None = None) -> dict:
    """Run the ops in order; per-phase and total op seconds."""
    phase = {1: 0.0, 2: 0.0}
    for op in ops:
        phase[op.phase] += run_op(op, tally, spans)
    return {"wall_s": phase[1] + phase[2], "phase1_s": phase[1], "phase2_s": phase[2]}


def host_probe(reps: int = 3) -> list[float]:
    """Fixed single-thread Python work; its time tracks the host's speed
    phase. Diagnostic only: it never scales a metric."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        out.append(time.perf_counter() - t0)
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus the Python
    driver (ru_maxrss), in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0


def _old_gen_pools(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    for i in range(beans.size()):
        pool = beans.get(i)
        if "Old" in pool.getName() or "Tenured" in pool.getName():
            yield pool


def reset_old_gen_peak(spark) -> None:
    for pool in _old_gen_pools(spark):
        pool.resetPeakUsage()


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation since the last reset, in
    MiB: the data that outlived young collections. With ``-Xms`` pinned,
    VmHWM mostly reads the heap setting; this moves with the program."""
    return sum(p.getPeakUsage().getUsed() for p in _old_gen_pools(spark)) / (1024.0 * 1024.0)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))
