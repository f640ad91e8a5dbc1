"""Pieces shared by the three workloads: the operation record, the
summary statistics, and the Spark session's lifetime."""

from __future__ import annotations

import gc
import hashlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


@dataclass
class Op:
    """One timed operation of a closed loop with a single client.

    ``t0``/``t1`` are wall-clock seconds (``time.time()``), so they can
    be matched against Spark's own event timestamps. ``parts`` holds
    the per-layer timings taken around the package calls inside it.
    """

    name: str
    t0: float
    t1: float
    rows: int
    ok: bool = True
    parts: dict[str, float] = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    seed: int
    work: str
    traced: bool = False


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile that leaves at least ten samples beyond
    it (nearest rank), with its label. A run with fewer than 20
    operations has no such percentile above the median; there the
    slowest operation is reported and labelled ``max``."""
    n = len(latencies)
    xs = sorted(latencies)
    for p in (99.9, 99, 95, 90, 75):
        k = math.ceil(p / 100 * n)
        if n - k >= 10:
            return xs[k - 1], f"p{p:g}"
    return (xs[-1] if xs else 0.0), "max"


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def digest(rows: list[tuple]) -> str:
    """Order-insensitive digest of normalized rows."""
    h = hashlib.sha256()
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def norm_cell(v):
    """Normalize one cell so Spark and DuckDB rows compare equal."""
    import datetime
    import decimal

    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def start_spark(app: str, work: str):
    """The package's session, plus the runner's additions to its
    defaults: no console progress bars, and every scratch file inside
    the run's work directory."""
    from dataengineering_spark.session import get_spark

    spark = get_spark(
        app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait until the driver JVM (and with it the
    Python worker daemon it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        from dataengineering_spark.caching import release_tracked

        try:
            release_tracked()
            spark.stop()
        except Exception:  # the JVM is going away regardless
            pass
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def live_heap_mb(spark) -> float:
    """Driver heap still in use once garbage is collected, in MB: what
    the program keeps alive (persisted blocks, broadcasts, caches,
    state it leaks), independent of how far G1 has grown the heap."""
    # Python reference cycles that are garbage still pin their py4j
    # targets: a dropped DataFrame keeps its plan, and any broadcast
    # relation in it, alive in the JVM (130 MB more on etl_batch in
    # about half the runs), so collect them first
    gc.collect()
    mem = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # each full collection lets Spark's ContextCleaner drop, on its own
    # thread, the broadcasts and shuffles whose handles it freed, which
    # a later one reclaims (136, 121, 110, 110 MB on curation_stream):
    # repeat until two more collections free less than 1 MB
    used: list[int] = []
    while len(used) < 12:
        mem.gc()
        used.append(mem.getHeapMemoryUsage().getUsed())
        if len(used) >= 3 and used[-3] - used[-1] < 2**20:
            break
        time.sleep(0.5)
    return min(used) / 2**20


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def now() -> float:
    return time.time()


def mean_part(ops: list[Op], key: str) -> float:
    vals = [op.parts[key] for op in ops if key in op.parts]
    return sum(vals) / len(vals) if vals else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total
