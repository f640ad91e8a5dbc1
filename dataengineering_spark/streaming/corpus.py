"""Streaming corpus statistics — the streaming face of the batch
dataset-card report (``plans/queries_llm.q_corpus_report``).

A live ingest wants "what does the corpus look like NOW" without
re-scanning everything ever ingested.  The report's measures (doc
counts, char totals, word totals per source/lang) are all MERGEABLE,
so the stream appends one tiny PARTIAL frame per micro-batch —
(epoch_id, source, lang, n_docs, total_chars, total_words), an
O(|source x lang|) hash aggregate of just that epoch — and the
snapshot reader folds partials into the same GROUPING SETS rollup the
batch query produces.  Nothing about the corpus itself is retained:
state is O(epochs x groups), not O(docs), and a periodic compaction
(re-aggregating partials into one epoch) keeps even that flat.

Exactly-once under foreachBatch replay: a partial row is a
DETERMINISTIC function of (epoch content, epoch id), so a replayed
epoch appends byte-identical rows and the snapshot's ``distinct()``
over full partial rows absorbs them — same replay contract as the
LSH pair sink (``streaming/lsh.py``).

Word counts use the batch report's exact expression
(``size(split(text, ' '))``) so stream == batch is provable
row-for-row, not just approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.streaming.structured import run_foreach_batch


def _epoch_partial(batch: DataFrame, epoch_id: int) -> DataFrame:
    return (
        batch.select(
            "source",
            "lang",
            "n_chars",
            F.size(F.split("text", " ")).cast("long").alias("_n_words"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("_n_words").alias("total_words"),
        )
        .withColumn("epoch_id", F.lit(int(epoch_id)))
    )


def corpus_stats_batch_fn(partials_path: str):
    """foreachBatch hook: append the epoch's per-(source, lang)
    partial aggregate to ``partials_path``."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        _epoch_partial(batch, epoch_id).write.mode("append").parquet(
            partials_path
        )

    return batch_fn


def corpus_stats_stream(
    stream: DataFrame,
    partials_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire a document stream into the partials loop."""
    return run_foreach_batch(
        stream, corpus_stats_batch_fn(partials_path), checkpoint_dir
    )


def corpus_stats_snapshot(
    spark: SparkSession, partials_path: str
) -> DataFrame:
    """Fold accumulated partials into the batch report's exact shape:
    (source, lang, n_docs, total_chars, total_words, gid) over
    GROUPING SETS ((source), (lang), ()) — byte-compatible with
    ``q_corpus_report`` output on the same drained corpus."""
    (
        spark.read.parquet(partials_path)
        .distinct()  # absorb foreachBatch epoch replays
        .createOrReplaceTempView("_corpus_partials")
    )
    return spark.sql(
        """
        SELECT source, lang, SUM(n_docs) AS n_docs,
          SUM(total_chars) AS total_chars,
          SUM(total_words) AS total_words,
          CAST(GROUPING_ID(source, lang) AS BIGINT) AS gid
        FROM _corpus_partials
        GROUP BY GROUPING SETS ((source), (lang), ())
        """
    )


def compact_partials(spark: SparkSession, partials_path: str) -> None:
    """Re-aggregate all partials into a single epoch-(-1) frame and
    rewrite the sink — the O(epochs x groups) state goes back to
    O(groups). Safe only while the stream is stopped (the rewrite is
    not atomic against a concurrent epoch append)."""
    folded = (
        spark.read.parquet(partials_path)
        .distinct()
        .groupBy("source", "lang")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_chars").alias("total_chars"),
            F.sum("total_words").alias("total_words"),
        )
        .withColumn("epoch_id", F.lit(-1))
    )
    # materialize before overwriting the path being read
    rows = folded.collect()
    spark.createDataFrame(rows, folded.schema).write.mode(
        "overwrite"
    ).parquet(partials_path)
