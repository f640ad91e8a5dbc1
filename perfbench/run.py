"""Layered benchmark of the engine on three closed-loop workloads.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 6 --trace 0

Run from the repository root. The run makes its inputs from the seed,
sets up (Spark session, input generation, warm-up pass), measures
whole operations for about ``--seconds`` seconds, checks the outputs
outside the timed region, and prints one summary line per metric
followed by one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first
repeats that untraced window, then attaches an event log and a
query-execution listener to the same SparkContext, measures a second
window, and reports the per-layer metrics of that traced window together with
the tracing overhead. See perfbench/README.md.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from common import (  # noqa: E402
    WORK_ROOT,
    Ctx,
    fresh_dir,
    jvm_pid,
    live_heap_mb,
    median,
    peak_rss_mb,
    shutdown,
    start_spark,
    tail,
)

WORKLOADS = ("etl_batch", "block_sync", "curation_stream")


def make_workload(name: str):
    if name == "etl_batch":
        from etl_batch import EtlBatch

        return EtlBatch()
    if name == "block_sync":
        from block_sync import BlockSync

        return BlockSync()
    from curation_stream import CurationStream

    return CurationStream()


def prepare_env(work: str) -> None:
    """Environment every process of the run inherits: Python workers
    import the package from this checkout, Spark runs on every core,
    and scratch files stay inside the work directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def end_to_end(ops, wall: float, setup_s: float, heap_mb: float, rss_mb: float) -> tuple[dict, list[str]]:
    lat = [op.latency for op in ops]
    failed = sum(not op.ok for op in ops)
    tail_s, tail_label = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(op.rows for op in ops) / wall, "rows/s"),
        "op_p50_s": (median(lat), "s"),
        "ok_ratio": ((len(ops) - failed) / len(ops), "ratio"),
        "driver_heap_live_mb": (heap_mb, "MB"),
    }
    # op_tail_s is a percentile with at least 10 samples beyond it; a
    # window of fewer than 20 operations has none above the median, so
    # the slowest operation is printed instead of gated
    tail_note = (
        f"op_tail_s omitted: {len(ops)} operations, slowest {tail_s:.6g} s"
        if tail_label == "max"
        else f"op_tail_s (not gated) = {tail_s:.6g} s, {tail_label} of {len(ops)} operations"
    )
    notes = [
        tail_note,
        f"failed_ratio {failed / len(ops):.6g} ({failed} of {len(ops)} operations failed)",
        f"timed wall {wall:.3f} s",
        f"driver_peak_rss_mb (VmHWM, not gated) {rss_mb:.1f} MB",
        "operation latencies s: " + " ".join(f"{x:.3f}" for x in lat),
    ]
    return metrics, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import dataengineering_spark  # fails fast outside a checkout

    if not os.path.abspath(dataengineering_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"dataengineering_spark must come from {ROOT}, not {dataengineering_spark.__file__}")

    work = fresh_dir(os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"))
    prepare_env(work)
    wl = make_workload(args.workload)
    spark = None
    try:
        spark = start_spark(f"perfbench-{args.workload}", work)
        wl.setup(Ctx(spark, args.seed, work))
        setup_s = time.time() - T_START
        ops, wall = wl.run(args.seconds)
        rss_mb = peak_rss_mb(jvm_pid(spark))
        heap_mb = live_heap_mb(spark)
        wl.verify()
        traced_ops, layers = [], {}
        if args.trace:
            from layers import trace_window

            traced_ops, layers = trace_window(wl, spark, ops, args.seconds, work)
        failures = wl.check(ops + traced_ops)
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics, notes = end_to_end(ops, wall, setup_s, heap_mb, rss_mb)
    if args.trace:
        metrics = layers
    ops = ops + traced_ops
    for f in failures:
        print(f"check failed: {f}")
    for n in notes:
        print(n)
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    failed = sum(not op.ok for op in ops)
    print(
        json.dumps(
            {
                "correct": not failures and failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
