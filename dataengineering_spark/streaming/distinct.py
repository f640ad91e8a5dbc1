"""Streaming distinct-count gauge — mergeable HLL sketch partials.

The third face of the mergeable-partials pattern (counts:
``streaming/abtest.py``; grouped sums: ``streaming/corpus.py``; this:
SKETCH state).  A live ingest wants "how many distinct users have we
seen, per event_type, NOW" without keeping the identity set.  The HLL
sketch is a bounded-size mergeable summary, so each micro-batch
appends one partial row per group — (epoch_id, event_type, hll
binary), an O(|groups| × 2^lgk) write of just that epoch — and the
snapshot folds partials with ``hll_union_agg`` into per-group
estimates.

Replay contract: the sketch bytes are a deterministic function of the
epoch's value set (DataSketches HLL is insertion-order-dependent in
its HIP registers but the REGISTER state after a fixed value
multiset is stable for a fixed partitioning — we aggregate the epoch
to one sketch per group with a canonical sort, so replayed epochs
produce byte-identical rows) and the snapshot ``distinct()`` over
full partial rows absorbs them, matching streaming/corpus.py.

Estimate semantics (gotcha pinned in tests): a DIRECT sketch answers
with the stream-order HIP estimator while a UNION of sketches answers
from merged REGISTER state — they agree exactly only in sparse mode,
within sketch error otherwise.  The snapshot therefore compares to a
batch UNION over the same epoch slices (exact equality), and to the
true distinct count within documented error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.operators.sketches import (
    hll_estimate_from_sketch,
    hll_merge_sketches,
    hll_sketch_by,
)
from dataengineering_spark.streaming.structured import run_foreach_batch

_LGK = 12


def _epoch_partial(batch: DataFrame, epoch_id: int) -> DataFrame:
    # one sketch per (epoch, event_type): sortWithinPartitions +
    # coalesce(1) fixes the insertion order so a replayed epoch
    # serializes byte-identical sketch state.
    canonical = batch.select("event_type", "user_id").coalesce(1).sortWithinPartitions(
        "event_type", "user_id"
    )
    return hll_sketch_by(canonical, ["event_type"], "user_id", lgk=_LGK).withColumn(
        "epoch_id", F.lit(int(epoch_id))
    )


def distinct_batch_fn(partials_path: str):
    """foreachBatch hook: append the epoch's per-group HLL state."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        _epoch_partial(batch, epoch_id).write.mode("append").parquet(
            partials_path
        )

    return batch_fn


def distinct_stream(
    stream: DataFrame,
    partials_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Wire an event stream into the sketch-partials loop."""
    return run_foreach_batch(
        stream, distinct_batch_fn(partials_path), checkpoint_dir
    )


def distinct_snapshot(spark: SparkSession, partials_path: str) -> DataFrame:
    """Per-event_type distinct-user estimate from the partial log —
    replayed epochs deduplicated on the full partial row before the
    union fold."""
    partials = spark.read.parquet(partials_path)
    merged = hll_merge_sketches(partials.distinct(), ["event_type"])
    return hll_estimate_from_sketch(merged).select(
        "event_type", "distinct_est"
    )
