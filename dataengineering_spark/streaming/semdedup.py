"""Streaming SemDeDup — the streaming face of the batch embedding
dedup (``operators/dedup.semantic_dedup_members``), completing the
near-dup streaming ladder: exact/content (streaming/dedup.py) →
MinHash-LSH (streaming/lsh.py) → embedding-space (this module).

Shape mirrors streaming/lsh.py exactly, with k-means cells playing
the band role: a FROZEN coarse quantizer (centroids trained once —
the train-once/serve-many contract the streaming ANN tier already
established in streaming/ann.py) plus a persisted CELL INDEX (parquet
table of (vec_id, cid, v, dd) rows) and a ``foreachBatch`` loop. Each
micro-batch is one ``streaming/store.index_epoch`` over its cells:

1. assigns the batch's vectors to cells — a narrow map against the
   frozen centroid literals (no Exchange), self-dot precomputed;
2. emits intra-batch candidate pairs via the within-cell self-join
   (``operators/dedup.semantic_candidate_pairs`` — the batch tier's
   own pair builder, ONE dot fold per candidate, never all-pairs);
3. emits cross-batch candidates by joining the persisted index
   against the BROADCAST batch cells on cid — the index is filtered
   map-side and never shuffles;
4. appends the batch cells to the index, so later batches see them.

Every vector belongs to exactly one epoch, so each (a, b) pair
surfaces exactly once: intra-batch if both arrived together, else
cross-batch in the later vector's epoch. Accumulated pairs over a
drained stream therefore equal the batch pair set under the SAME
frozen centroids — proven stream==batch in
``tests/test_streaming_semdedup.py``.

Freezing the quantizer is a real serving decision, not a shortcut:
re-training per epoch would re-partition the space and silently
invalidate every cell in the index (the same reason streaming/ann.py
freezes its IVF index and tracks staleness instead). Re-train offline
when drift accounting says so, then rebuild the index in one batch
pass.

State posture at scale: the cell index grows with the corpus (near-dup
screening must remember everything it may match against) but lives in
a parquet table, not executor state-store memory; per-epoch cost is
one broadcast of the small batch cells and one map-side filtered scan
of the index.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.operators.dedup import semantic_candidate_pairs
from dataengineering_spark.streaming.store import index_epoch, recover_store
from dataengineering_spark.streaming.structured import run_foreach_batch

CELL_INDEX_SCHEMA = "vec_id long, cid int, v array<double>, dd double"


def _batch_cells(
    batch: DataFrame, cent_rows, id_col: str, vec_col: str
) -> DataFrame:
    """Assign the epoch's vectors under the frozen quantizer, in the
    cell-index layout (vec_id, cid, v, dd). ``cent_rows`` is either the
    flat ``ivf_train_rows`` list or the two-level ``(super_rows,
    sub_by_super, c2)`` triple — the scale shape for C in the
    thousands, where flat literal assignment is
    architecturally dead (see operators/similarity.two_level_assign);
    the composite cid plays the cell role identically downstream."""
    from dataengineering_spark.operators.similarity import (
        dot,
        ivf_assign,
        two_level_assign,
    )

    e = batch.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if isinstance(cent_rows, tuple) and len(cent_rows) == 3:
        super_rows, sub_by_super, c2 = cent_rows
        cells = two_level_assign(e, super_rows, sub_by_super, c2)
    else:
        cells = ivf_assign(e, cent_rows)
    return cells.select(
        "vec_id", "cid", "v", dot(F.col("v"), F.col("v")).alias("dd")
    )


def semantic_neardup_batch_fn(
    cent_rows: list,
    index_dir: str,
    pairs_dir: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the foreachBatch function: per epoch, emit new candidate
    pairs to ``pairs_dir`` and append the epoch's cells to the
    ``index_dir`` cell table.

    Replay contract: both writes are appends of deterministic content
    keyed by the epoch's vectors (the quantizer is frozen), so a
    replayed epoch re-appends identical rows and downstream
    ``distinct()`` absorbs them — same as the LSH pair sink."""

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        index_epoch(
            _batch_cells(batch, cent_rows, id_col, vec_col),
            partial(semantic_candidate_pairs, threshold=threshold),
            index_dir,
            pairs_dir,
            CELL_INDEX_SCHEMA,
        )

    return batch_fn


def semantic_neardup_stream(
    stream: DataFrame,
    cent_rows: list,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Wire an embedding stream into the incremental semantic-dedup
    loop (see module docstring). ``cent_rows`` is the frozen quantizer
    — ``operators/similarity.ivf_train_rows`` output, or the
    ``(super_rows, sub_by_super, c2)`` two-level triple for C in the
    thousands — trained offline.
    Drain with ``awaitTermination`` and read accumulated pairs from
    ``pairs_dir`` (apply ``distinct()``)."""
    batch_fn = semantic_neardup_batch_fn(
        cent_rows,
        index_dir,
        pairs_dir,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
    )
    return run_foreach_batch(stream, batch_fn, checkpoint_dir)


def accumulated_semantic_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Distinct accumulated (vec_a, vec_b) candidates from a drained
    (or live) stream's pair sink — the frame to compare against the
    batch pair set or to feed ``connected_components``.  Runs the
    torn-store recovery first (streaming/store.py): a crash during a
    maintenance rewrite can never surface here as a partial edge set
    (ADVICE r12)."""
    recover_store(spark, pairs_dir)
    return (
        spark.read.schema("vec_a long, vec_b long")
        .parquet(pairs_dir)
        .distinct()
    )
