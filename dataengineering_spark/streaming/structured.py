"""Structured Streaming upgrade (SURVEY.md §7 step 9).

The reference's sync loop is scheduler-driven micro-batching with no
event-time semantics: late data is handled only by not reading the
head of the chain (``streaming_lag``). This module wraps the same
pipeline vocabulary in real ``readStream``/``foreachBatch``, adding
what the reference lacks:

- event-time watermarks (bounded state, principled late-data drop),
- tumbling / sliding / session windows,
- exactly-once-per-epoch multi-sink writes via foreachBatch + the
  idempotent partition flush.

Capability upgrade, not a port: the reference has no equivalent
(SURVEY.md §2.9 "Late data" note).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-arrival micro-batch source — the direct streaming analogue
    of the reference's 'new blocks landed in the source table' model.
    ``maxFilesPerTrigger`` plays the reference's batch_size role."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .format(fmt)
        .load(path)
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is given) windowed counts
    with a watermark bounding state growth — works identically on a
    batch frame (watermark is a no-op) and a stream."""
    df = events
    if df.isStreaming:
        # watermarks demand TIMESTAMP (not NTZ); with the session
        # pinned to UTC the cast is instant-preserving
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, window)
        if slide is None
        else F.window(ts_col, window, slide)
    )
    return (
        df.groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


def sessionized(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows (gap-merged activity periods) per key."""
    df = events
    if df.isStreaming:
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts_l",
    right_ts: str = "ts_r",
    bound: str = "15 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) equi + interval join: pairs rows that
    share ``key_col`` with ``right_ts`` within ±``bound`` of
    ``left_ts``. Callers pass frames whose non-key columns are already
    disjoint. On streams, both sides get watermarks and the time-range
    predicate bounds the join state Spark must keep — the canonical
    Structured Streaming stream-stream join contract. On batch frames
    the same plan is a range join the oracle can replay as ANSI SQL."""
    l, r = left, right
    if l.isStreaming:
        l = l.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withColumn(right_ts, F.col(right_ts).cast("timestamp"))
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {bound}"))
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {bound}"))
    )
    return l.join(r, cond, how).drop(r[key_col])


def deduplicated(
    events: DataFrame,
    keys: list[str] | tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once key dedup over a stream — the streaming face of
    the A8/dedup_exact family. At-least-once sources (the reference's
    retrying sync loop re-reads ranges on failure;
    ``rate_limited.py`` heals its cursor the same way) emit the same
    record in more than one micro-batch;
    ``dropDuplicatesWithinWatermark`` keeps one row per key while the
    watermark BOUNDS the dedup state: keys older than the horizon are
    evicted, so state is O(keys-per-horizon), not O(stream) — the only
    dedup contract that survives an unbounded stream. On a batch frame
    the same call degrades to plain ``dropDuplicates`` (exact, whole
    input), which is what the oracle replays.
    """
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    df = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_foreach_batch(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """foreachBatch runner — the T5/T6 fan-out writ streaming: each
    epoch gets the full DataFrame API (multi-sink, joins, upserts),
    with the checkpoint providing exactly-once epoch tracking.
    ``trigger_once`` processes the backlog then stops (the
    scheduler-driven operation mode of the reference); ``False`` runs
    continuously on the default back-to-back micro-batch trigger. Every
    streaming face of the package starts its query through here."""
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
