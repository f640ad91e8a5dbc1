"""Record the tiny event-log fixture that test_layers.py reads.

    python3 perfbench/fixtures/record_eventlog.py

Runs three small jobs on local[2] with an uncompressed event log: a
mapInPandas lane (Python-worker SQL metrics), a grouped count (a
shuffle), and a two-epoch foreachBatch stream (jobs grouped by the
stream's run id). The environment-update event, which holds this
host's paths and settings, is dropped, paths and call sites are
scrubbed from the rest (see ``_scrub``), and the log is split into two
rolling parts so the parser's part ordering is exercised. Writes
``fixtures/eventlog/`` and ``fixtures/eventlog_expected.json``.
"""

import json
import os
import re
import shutil
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".perfbench_work")
KEEP_PROPERTIES = ("spark.jobGroup.id", "spark.sql.execution.id")
LOCAL_PATH = re.compile(r"file:|/(root|tmp|opt|usr|home)\b|\.pyenv")


def _slow_identity(batches):
    import time as _t

    for pdf in batches:
        _t.sleep(0.2)
        yield pdf


def _scrub(value):
    """Drop what describes the recording host: call-site details,
    plan descriptions, local paths and job properties other than the
    job group and SQL execution id."""
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            if k in ("Details", "physicalPlanDescription", "details", "Metadata"):
                continue
            if k == "Properties":
                v = {p: v[p] for p in KEEP_PROPERTIES if p in v}
            out[k] = _scrub(v)
        return out
    if isinstance(value, list):
        return [_scrub(v) for v in value]
    if isinstance(value, str) and LOCAL_PATH.search(value):
        return "<path>"
    return value


def main() -> None:
    from pyspark.sql import SparkSession

    os.makedirs(WORK_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="eventlog-fixture-", dir=WORK_ROOT)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", tmp)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("fixture-python", "mapInPandas lane")
    spark.range(0, 400, 1, 2).mapInPandas(_slow_identity, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.sparkContext.setJobGroup("fixture-shuffle", "grouped count")
    spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    src = os.path.join(tmp, "src")
    for i in range(2):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(src)
        time.sleep(1.1)
    q = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(lambda df, epoch: df.write.format("noop").mode("overwrite").save())
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    run_id = str(q.runId)
    spark.stop()

    (app_dir,) = [d for d in os.listdir(tmp) if d.startswith("eventlog_v2_")]
    (name,) = [f for f in os.listdir(os.path.join(tmp, app_dir)) if f.startswith("events_")]
    with open(os.path.join(tmp, app_dir, name)) as f:
        events = [json.loads(line) for line in f]
    lines = [
        json.dumps(_scrub(e), separators=(",", ":")) + "\n"
        for e in events
        if e["Event"] != "SparkListenerEnvironmentUpdate"
    ]
    out = os.path.join(HERE, "eventlog")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "eventlog_v2_fixture"))
    half = len(lines) // 2
    for n, part in ((1, lines[:half]), (2, lines[half:])):
        with open(os.path.join(out, "eventlog_v2_fixture", f"events_{n}_fixture"), "w") as f:
            f.writelines(part)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(HERE, "eventlog_expected.json"), "w") as f:
        json.dump({"stream_run_id": run_id}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
