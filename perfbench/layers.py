"""The traced window and the per-layer metrics.

Everything here reads what Spark already reports, from outside the
package: a query-execution listener for the planning tracker's phase
times, and the uncompressed event log for jobs, stages, tasks and the
SQL metrics of the Python lanes. Metrics are per operation (means over
the traced window) unless the name says otherwise.

Event-log facts the parser handles (Spark 4.1):
- the log is a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory;
- jobs of a streaming query carry the query's run id as their job
  group, not the caller's, so jobs are attributed by submission time;
- SQL metric accumulables carry no unit in task events; the unit comes
  from the ``metricType`` of the same accumulator id in the SQL plan
  (``timing`` is ms, ``nsTiming`` ns, ``size`` bytes). Each task's
  ``Update`` is summed, never the running ``Value``.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

from common import dir_bytes, mean_part, median, now

# name -> unit of every per-layer metric a traced run reports
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    "spark.plan.analysis_s": "s",
    "spark.plan.optimization_s": "s",
    "spark.plan.planning_s": "s",
    "spark.sched.jobs": "count",
    "spark.sched.stages": "count",
    "spark.sched.tasks": "count",
    "spark.sched.delay_s": "s",
    "spark.exec.run_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.cpu_share": "ratio",
    "spark.exec.gc_s": "s",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "spark.exec.output_bytes": "bytes",
    "spark.exec.task_skew": "ratio",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "functions.py_start_s": "s",
    "functions.py_init_s": "s",
    "functions.py_run_s": "s",
    "functions.py_bytes_to": "bytes",
    "functions.py_bytes_from": "bytes",
    "streaming.runner.batches": "count",
    "streaming.runner.negotiate_s": "s",
    "streaming.runner.sink_s": "s",
    "streaming.runner.commit_probe_s": "s",
    "streaming.curation.epochs": "count",
    "streaming.curation.epoch_s": "s",
    "streaming.curation.trigger_overhead_s": "s",
    "streaming.curation.jobs_per_epoch": "count",
    "streaming.curation.finish_s": "s",
    "streaming.store.pairs_rows": "count",
    "streaming.store.pairs_distinct_share": "ratio",
    "streaming.store.index_rows": "count",
    "streaming.store.reps_rows": "count",
    "streaming.store.bytes": "bytes",
    "spark.driver.result_bytes": "bytes",
    "trace.overhead_share": "ratio",
    "trace.eventlog_bytes": "bytes",
}

PYTHON_METRICS = {
    "time to start Python workers": "functions.py_start_s",
    "time to initialize Python workers": "functions.py_init_s",
    "time to run Python workers": "functions.py_run_s",
    "data sent to Python workers": "functions.py_bytes_to",
    "data returned from Python workers": "functions.py_bytes_from",
}
UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}


class PlanListener:
    """``QueryExecutionListener`` implemented through the py4j callback
    server: records the planning tracker's phase durations of every
    successful query execution."""

    def __init__(self):
        self.records: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        self.records.append(
            {
                k: phases.apply(k).durationMs() / 1000.0
                for k in ("analysis", "optimization", "planning")
                if phases.contains(k)
            }
        )

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def register_plan_listener(spark) -> PlanListener:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = PlanListener()
    spark._jsparkSession.listenerManager().register(listener)
    return listener


# --- event log ---------------------------------------------------------------


def event_log_files(path: str) -> list[str]:
    """The event files of the one application logged under ``path``:
    the parts of its rolling ``eventlog_v2_*`` directory, in write
    order."""
    (app,) = [e for e in os.listdir(path) if e.startswith("eventlog_v2_")]
    app = os.path.join(path, app)
    parts = [f for f in os.listdir(app) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(app, f) for f in parts]


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = m["metricType"]
    for child in node.get("children", ()):
        _plan_metric_types(child, out)


def parse_event_log(path: str) -> dict:
    """Jobs, completed stages, finished tasks and SQL metric types."""
    jobs, stages, tasks, metric_types = [], {}, [], {}
    for f in event_log_files(path):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "id": e["Job ID"],
                            "submit_s": e["Submission Time"] / 1000.0,
                            "stages": set(e["Stage IDs"]),
                            "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = info
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metric_types(e["sparkPlanInfo"], metric_types)
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "metric_types": metric_types}


def spark_layers(log: dict, t_lo: float, t_hi: float, n_ops: int) -> dict[str, float]:
    """Scheduler, execution, source, Python-lane and driver metrics of
    the jobs submitted in ``[t_lo, t_hi]``, per operation."""
    jobs = [j for j in log["jobs"] if t_lo <= j["submit_s"] <= t_hi]
    stage_ids = set().union(*(j["stages"] for j in jobs)) if jobs else set()
    stages = [s for (sid, _), s in log["stages"].items() if sid in stage_ids]
    tasks = [t for t in log["tasks"] if t["Stage ID"] in stage_ids]
    tot = defaultdict(float)
    run_by_stage = defaultdict(list)
    for t in tasks:
        m, info = t.get("Task Metrics") or {}, t["Task Info"]
        if not m:
            continue
        run = m["Executor Run Time"]
        run_by_stage[t["Stage ID"]].append(run)
        tot["run_ms"] += run
        tot["cpu_ns"] += m["Executor CPU Time"]
        tot["gc_ms"] += m["JVM GC Time"]
        tot["result_bytes"] += m["Result Size"]
        tot["spill_bytes"] += m["Disk Bytes Spilled"]
        sr = m["Shuffle Read Metrics"]
        tot["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        tot["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        tot["input_bytes"] += m["Input Metrics"]["Bytes Read"]
        tot["input_records"] += m["Input Metrics"]["Records Read"]
        tot["output_bytes"] += m["Output Metrics"]["Bytes Written"]
        getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
        tot["delay_ms"] += max(
            0,
            info["Finish Time"]
            - info["Launch Time"]
            - run
            - m["Executor Deserialize Time"]
            - m["Result Serialization Time"]
            - getting,
        )
        for acc in info.get("Accumulables", ()):
            name = PYTHON_METRICS.get(acc.get("Name"))
            if name is None or acc.get("Update") is None:
                continue
            tot[name] += float(acc["Update"]) * UNIT_SCALE[log["metric_types"][int(acc["ID"])]]
    # task skew: max/median task run time per stage, weighted by the
    # stage's share of run time
    skew_num = skew_den = 0.0
    for runs in run_by_stage.values():
        mid = statistics.median(runs)
        if len(runs) >= 2 and mid > 0:
            skew_num += max(runs) / mid * sum(runs)
            skew_den += sum(runs)
    n = max(n_ops, 1)
    out = {
        "spark.sched.jobs": len(jobs) / n,
        "spark.sched.stages": len(stages) / n,
        "spark.sched.tasks": len(tasks) / n,
        "spark.sched.delay_s": tot["delay_ms"] / 1000.0 / n,
        "spark.exec.run_s": tot["run_ms"] / 1000.0 / n,
        "spark.exec.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.exec.cpu_share": (tot["cpu_ns"] / 1e6) / tot["run_ms"] if tot["run_ms"] else 0.0,
        "spark.exec.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.exec.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.exec.shuffle_read_bytes": tot["shuffle_read"] / n,
        "spark.exec.spill_bytes": tot["spill_bytes"] / n,
        "spark.exec.output_bytes": tot["output_bytes"] / n,
        "spark.exec.task_skew": skew_num / skew_den if skew_den else 1.0,
        "sources.input_bytes": tot["input_bytes"] / n,
        "sources.input_records": tot["input_records"] / n,
        "spark.driver.result_bytes": tot["result_bytes"] / n,
    }
    for name in PYTHON_METRICS.values():
        out[name] = tot[name] / n
    return out


def plan_layers(records, n_ops: int) -> dict[str, float]:
    """Planning-tracker phase time of the query executions the listener
    reported, per operation. The listener is registered just before
    the window and read once the listener bus has drained after it, so
    these are exactly the window's executions."""
    tot = defaultdict(float)
    for phases in records:
        for k, v in phases.items():
            tot[k] += v
    n = max(n_ops, 1)
    return {f"spark.plan.{k}_s": tot[k] / n for k in ("analysis", "optimization", "planning")}


def attach_event_log(spark, log_dir: str):
    """Start Spark's own ``EventLoggingListener`` on the live context,
    writing an uncompressed rolling log under ``log_dir``: the default
    zstd compression needs a Python module that is not part of the
    toolchain. Attaching it to the running context keeps the JVM, the
    Python workers and every cache as warm as the untraced window
    left them."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    conf = (
        sc.conf()
        .clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "true")
    )
    writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(),
        jvm.scala.Option.apply(None),
        jvm.java.io.File(log_dir).toURI(),
        conf,
        sc.hadoopConfiguration(),
    )
    writer.start()
    sc.listenerBus().addToEventLogQueue(writer)
    return writer


def trace_window(wl, spark, untraced_ops, seconds: float, work: str):
    """Attach an event log and the plan listener to the live context,
    measure one more window right after the untraced one, detach them
    to flush the log, and derive the per-layer metrics. Returns
    ``(traced_ops, metrics)`` with metrics as name -> (value, unit)."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    writer = attach_event_log(spark, log_dir)
    listener = register_plan_listener(spark)
    wl.ctx.traced = True
    t_lo = now()
    ops, _ = wl.run(seconds)
    t_hi = now()
    bus.waitUntilEmpty()
    records = list(listener.records)
    spark._jsparkSession.listenerManager().unregister(listener)
    bus.removeListener(writer)
    writer.stop()
    wl.verify()
    log = parse_event_log(log_dir)

    n = len(ops)
    values = {name: 0.0 for name in PER_LAYER}
    values.update(spark_layers(log, t_lo, t_hi, n))
    values.update(plan_layers(records, n))
    # a stream's own incremental planning is in its progress, not in
    # a query execution the listener sees
    values["spark.plan.planning_s"] += mean_part(ops, "query_planning_s")
    values.update(wl.layer_metrics(ops))
    base = median([op.latency for op in untraced_ops])
    values["trace.overhead_share"] = median([op.latency for op in ops]) / base - 1.0
    values["trace.eventlog_bytes"] = float(dir_bytes(log_dir))
    return ops, {k: (values[k], PER_LAYER[k]) for k in PER_LAYER}
