"""Streaming MinHash-LSH near-duplicate detection — the streaming face
of the batch near-dup tier (``operators/dedup.minhash_lsh_pairs``),
completing the streaming story the exact/content tier started in
``streaming/dedup.py``.

Shape: a persisted BAND INDEX (parquet table of (doc_id, band_id,
band_sig) rows, exactly ``operators/dedup.lsh_bands`` output) plus a
``foreachBatch`` loop.  Each micro-batch is one
``streaming/store.index_epoch`` over its band frame with
``operators/dedup.lsh_band_pairs`` as the pair operator:

1. computes the batch's band frame ONCE (persisted for the epoch);
2. emits intra-batch candidate pairs via the banded self-join — the
   same equi-join shape as ``minhash_lsh_pairs``, never all-pairs;
3. emits cross-batch candidates by joining the persisted index against
   the BROADCAST batch bands — the scale shape of
   ``operators/dedup.incremental_lsh_matches``: the 100 TB index is
   filtered map-side and never shuffles;
4. appends the batch bands to the index, so later batches see them.

Because every document belongs to exactly one epoch, each (a, b) pair
surfaces exactly once: intra-batch if both docs share an epoch, else
cross-batch in the LATER doc's epoch.  Accumulated pairs over a
drained stream therefore equal batch ``minhash_lsh_pairs`` on the
whole corpus — proven stream==batch in
``tests/test_streaming_lsh.py``, the same proof style as the content
tier's ``test_streaming_dedup.py``.

State posture at scale: the band index grows with the corpus (that is
inherent — near-dup screening must remember everything it may match
against), but it lives in a PARQUET TABLE, not in executor state-store
memory: per-epoch cost is one broadcast of the (small) batch bands and
one map-side filtered scan of the index.  The state-store path
(``dropDuplicatesWithinWatermark``) is deliberately NOT used here —
its eviction contract is wrong for an index that must never forget.

Reference scope note: the reference has no near-dup machinery at all
(its dedup is ClickHouse ``OPTIMIZE ... DEDUPLICATE``,
``clickhouse/v1/utils.py:173-193``); this module is part of the
LLM-pipeline extension tier.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dataengineering_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE,
    lsh_band_pairs,
    lsh_bands,
    minhash_signatures,
)
from dataengineering_spark.streaming.store import index_epoch
from dataengineering_spark.streaming.structured import run_foreach_batch

INDEX_SCHEMA = "doc_id long, band_id int, band_sig string"


def lsh_neardup_batch_fn(
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
):
    """Build the foreachBatch function: per epoch, emit new candidate
    pairs to ``pairs_dir`` and append the epoch's bands to the
    ``index_dir`` band table.

    The index append happens AFTER the pair write within the epoch;
    foreachBatch replays a failed epoch, and both writes are appends of
    deterministic content keyed by the epoch's docs, so replays
    re-append the same rows — downstream consumers dedup pairs with
    ``distinct()`` exactly as they already must for multi-band hits.
    """

    def batch_fn(batch: DataFrame, epoch_id: int) -> None:
        if not batch.take(1):
            return
        bands_df = lsh_bands(
            minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n),
            id_col=id_col,
            bands=bands,
            num_hashes=num_hashes,
        )
        index_epoch(
            bands_df,
            partial(lsh_band_pairs, id_col=id_col),
            index_dir,
            pairs_dir,
            INDEX_SCHEMA,
        )

    return batch_fn


def lsh_neardup_stream(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = DEFAULT_SHINGLE,
) -> StreamingQuery:
    """Wire a document stream into the incremental LSH loop (see module
    docstring). Returns the started query; drain with
    ``awaitTermination`` and read accumulated pairs from
    ``pairs_dir`` (apply ``distinct()``)."""
    batch_fn = lsh_neardup_batch_fn(
        index_dir,
        pairs_dir,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    return run_foreach_batch(stream, batch_fn, checkpoint_dir)


def accumulated_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """Distinct accumulated (doc_a, doc_b) candidates from a drained
    (or live) stream's pair sink — the frame to compare against batch
    ``minhash_lsh_pairs`` or to feed ``jaccard_pairs``."""
    return (
        spark.read.schema("doc_a long, doc_b long")
        .parquet(pairs_dir)
        .distinct()
    )
