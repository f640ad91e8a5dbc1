"""Streaming DSIR — the live face of the batch importance-weight
query (``plans/queries_curation.q_dsir_weights``).

A continuous ingest wants importance weights that reflect the corpus
SO FAR without re-featurizing everything ever ingested. The DSIR
model's sufficient statistic — per-bucket (raw_cnt, tgt_cnt) bigram
counts — is MERGEABLE, so the stream appends one tiny PARTIAL frame
per micro-batch: (epoch_id, bucket, raw_cnt, tgt_cnt), an O(B) hash
aggregate of just that epoch (B = 64 buckets). The snapshot reader
folds partials into full-corpus counts; scoring any document set
against the folded counts runs the batch tier's own
``dsir_scores`` — so stream == batch is provable on exact integers
(score_fp is a BIGINT fixed-point sum, not a tolerance compare).

State is O(epochs × B), never O(docs); ``compact_dsir_partials``
folds it back to O(B). Exactly-once under foreachBatch replay: a
partial row is a deterministic function of (epoch content, epoch id),
so a replayed epoch appends byte-identical rows and the snapshot's
``distinct()`` over full partial rows absorbs them — the same replay
contract as streaming/corpus.py and the LSH pair sink.

This module reuses the batch tier's ``dsir_bucket_frame`` /
``dsir_bucket_counts`` / ``dsir_scores`` verbatim — the stream never
re-implements the feature extraction, which is what makes the
equality proof a test instead of a hope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.plans.queries_curation import (
    dsir_bucket_counts,
    dsir_bucket_frame,
    dsir_scores,
)
from dataengineering_spark.streaming.structured import run_foreach_batch


def dsir_partials_batch_fn(partials_path: str):
    """foreachBatch hook: append the epoch's per-bucket count partial."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        (
            dsir_bucket_counts(dsir_bucket_frame(batch))
            .withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(partials_path)
        )

    return batch_fn


def dsir_partials_stream(
    stream: DataFrame,
    partials_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire a document stream into the partials loop."""
    return run_foreach_batch(
        stream, dsir_partials_batch_fn(partials_path), checkpoint_dir
    )


def dsir_counts_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """Fold accumulated partials into full-corpus bucket counts —
    integer-identical to ``dsir_bucket_counts`` over the drained
    corpus."""
    return (
        spark.read.parquet(partials_path)
        .distinct()  # absorb foreachBatch epoch replays
        .groupBy("bucket")
        .agg(
            F.sum("raw_cnt").alias("raw_cnt"),
            F.sum("tgt_cnt").alias("tgt_cnt"),
        )
    )


def dsir_score_against_snapshot(
    spark: SparkSession, docs: DataFrame, partials_path: str
) -> DataFrame:
    """Score ``docs`` against the streamed corpus model — the serve
    path. Scoring the drained corpus itself reproduces the batch
    ``dsir_weights`` output bit-for-bit (test_streaming_dsir)."""
    from dataengineering_spark.caching import persist_tracked

    bib = persist_tracked(dsir_bucket_frame(docs))
    return dsir_scores(docs, bib, dsir_counts_snapshot(spark, partials_path))


def compact_dsir_partials(spark: SparkSession, partials_path: str) -> None:
    """Re-aggregate all partials into a single epoch-(-1) frame — the
    O(epochs × B) state goes back to O(B). Safe only while the stream
    is stopped (the rewrite is not atomic against a concurrent epoch
    append)."""
    folded = (
        dsir_counts_snapshot(spark, partials_path)
        .withColumn("epoch_id", F.lit(-1))
        .select("bucket", "raw_cnt", "tgt_cnt", "epoch_id")
    )
    rows = folded.collect()
    spark.createDataFrame(rows, folded.schema).write.mode("overwrite").parquet(
        partials_path
    )
