"""Streaming A/B-test monitor — the streaming face of the batch
``plans/queries_eval.q_abtest_ztest``.

An experiment dashboard wants "what is the z-statistic NOW" as events
arrive, without re-scanning every event ever ingested.  The z-test's
sufficient statistics — per-variant trial and conversion counts — are
MERGEABLE, so each micro-batch appends one tiny PARTIAL frame
(epoch_id, variant, n, c): an O(|variants|) hash aggregate of just
that epoch.  The snapshot reader folds partials into cumulative
per-variant counts and routes them through the SAME
``ztest_output`` plan the batch query uses, so stream == batch is
provable on the exact output doubles, not approximately.

Exactly-once under foreachBatch replay: a partial row is a
deterministic function of (epoch content, epoch id), so a replayed
epoch appends byte-identical rows and the snapshot's ``distinct()``
over full partial rows absorbs them — the same replay contract as
``streaming/corpus.py`` and the LSH pair sink (``streaming/lsh.py``).

State is O(epochs × variants); ``compact_partials`` re-aggregates the
log into a single epoch when it grows, keeping even that flat on a
long-running monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.plans.queries_eval import variant_counts, ztest_output
from dataengineering_spark.streaming.structured import run_foreach_batch

_PARTIAL_SCHEMA = "epoch_id long, variant long, n long, c long"


def _epoch_partial(batch: DataFrame, epoch_id: int) -> DataFrame:
    return variant_counts(batch).select(
        # cast: an uncast int lit writes parquet INT32, but the
        # schema'd read + compaction declare long — Spark 4 widens on
        # read, the pyspark>=3.5 floor throws. Keep every partial INT64.
        F.lit(int(epoch_id)).cast("long").alias("epoch_id"),
        F.col("variant").cast("long"),
        F.col("n").cast("long"),
        F.col("c").cast("long"),
    )


def abtest_batch_fn(partials_path: str):
    """foreachBatch hook: append the epoch's per-variant counts."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        _epoch_partial(batch, epoch_id).write.mode("append").parquet(
            partials_path
        )

    return batch_fn


def abtest_stream(
    stream: DataFrame,
    partials_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire an event stream into the partials loop."""
    return run_foreach_batch(
        stream, abtest_batch_fn(partials_path), checkpoint_dir
    )


def abtest_counts(spark: SparkSession, partials_path: str) -> DataFrame:
    """Cumulative (variant, n, c) from the partial log — replayed
    epochs deduplicated on the full partial row."""
    partials = spark.read.schema(_PARTIAL_SCHEMA).parquet(partials_path)
    return (
        partials.distinct()
        .groupBy("variant")
        .agg(F.sum("n").alias("n"), F.sum("c").alias("c"))
    )


def abtest_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """The live z-test row — same output plan as the batch query."""
    return ztest_output(abtest_counts(spark, partials_path))


def compact_partials(spark: SparkSession, partials_path: str) -> None:
    """Fold the partial log into a single epoch-(-1) row set. The
    snapshot is invariant under compaction (same sums); run this
    periodically on a long-lived monitor to keep the log O(|variants|)."""
    compacted = (
        abtest_counts(spark, partials_path)
        .select(
            F.lit(-1).alias("epoch_id").cast("long"),
            F.col("variant").cast("long"),
            F.col("n").cast("long"),
            F.col("c").cast("long"),
        )
        .collect()
    )
    df = spark.createDataFrame(compacted, schema=_PARTIAL_SCHEMA)
    df.write.mode("overwrite").parquet(partials_path)
