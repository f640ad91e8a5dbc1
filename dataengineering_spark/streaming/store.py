"""The streaming tier's parquet state stores (pair stores,
fingerprint/cell indexes, reps indexes): the append-only epoch step
every incremental near-dup leg runs (:func:`index_epoch`), and the
crash-safe rewrite protocol their maintenance runs.

The accumulated stores are APPEND-only during ingest, but the
maintenance operations — pair-store compaction
(``curation.compact_pairs_to_forest``), the capped re-pair passes
(``media_dedup.repair_accumulated_pairs``), and the reps-index refresh
— REWRITE a store wholesale.  A bare ``mode("overwrite")`` on the live
directory deletes before it writes, so a crash mid-rewrite leaves a
truncated or empty store and a later drain would silently compute
connected components over a partial edge set (ADVICE r12 low #2).

Protocol (classic tmp-dir + rename, atomic on any filesystem whose
rename is — local FS, HDFS; object stores degrade to copy-rename but
the completion marker below still closes the torn-read window):

1. write the new content to ``<path>._rewrite_tmp`` (Spark drops a
   ``_SUCCESS`` marker on commit — that IS the completion marker);
2. rename the live store aside to ``<path>._rewrite_old``;
3. rename the tmp dir into place;
4. delete the old dir.

Every window has a mechanical recovery, run by :func:`recover_store`
(callers invoke it before reading or rewriting a maintained store):

- crash during 1: live store intact; stale tmp (no ``_SUCCESS`` or
  simply superseded) is deleted on the next pass.
- crash between 2 and 3: live path missing, COMPLETE tmp present
  (``_SUCCESS`` written) -> roll forward: rename tmp into place.
  Incomplete tmp + old present -> roll back: rename old into place.
- crash between 3 and 4: live path present, old dir remains -> delete
  the old dir.

The stores remain DERIVED state (recomputable from the fingerprint /
cell indexes via the repair passes), so recovery here is an
availability fix, not the last line of defense — but it turns "a
crash needs a manual re-pair" into "a crash needs nothing".
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TMP_SUFFIX = "._rewrite_tmp"
OLD_SUFFIX = "._rewrite_old"
_SUCCESS = "_SUCCESS"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return jvm, fs


def _p(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FS API so it works on any
    filesystem the session can read (local, HDFS, object stores) —
    reading a nonexistent parquet path fails lazily at action time,
    too late to branch on."""
    jvm, fs = _fs(spark, path)
    return fs.exists(_p(jvm, path))


def store_exists(spark: SparkSession, path: str) -> bool:
    """:func:`path_exists` for maintained stores: runs crash recovery
    first, so a store torn by a mid-rewrite crash reads as its
    recovered self, never as absent/partial."""
    recover_store(spark, path)
    return path_exists(spark, path)


def recover_store(spark: SparkSession, path: str) -> str:
    """Repair any torn state the rewrite protocol can leave behind.
    Returns the action taken: 'clean' | 'rolled_forward' | 'rolled_back'
    | 'reaped_tmp' | 'reaped_old'."""
    jvm, fs = _fs(spark, path)
    live, tmp, old = (_p(jvm, p) for p in (path, path + TMP_SUFFIX,
                                           path + OLD_SUFFIX))
    if fs.exists(live):
        # live store present: any tmp/old is leftover from a crash
        # after commit (or during tmp write) — reap it.
        action = "clean"
        if fs.exists(tmp):
            fs.delete(tmp, True)
            action = "reaped_tmp"
        if fs.exists(old):
            fs.delete(old, True)
            action = "reaped_old"
        return action
    if fs.exists(tmp) and fs.exists(_p(jvm, path + TMP_SUFFIX + "/" + _SUCCESS)):
        # crash between rename-aside and rename-into-place, with a
        # COMPLETE new store ready: roll forward.
        if not fs.rename(tmp, live):
            raise IOError(f"recover_store: rename {tmp} -> {live} failed")
        if fs.exists(old):
            fs.delete(old, True)
        return "rolled_forward"
    if fs.exists(old):
        # incomplete tmp (or none): the rewrite never committed — roll
        # back to the pre-rewrite store.
        if fs.exists(tmp):
            fs.delete(tmp, True)
        if not fs.rename(old, live):
            raise IOError(f"recover_store: rename {old} -> {live} failed")
        return "rolled_back"
    if fs.exists(tmp):  # incomplete tmp, no live, no old: a first-ever
        fs.delete(tmp, True)  # rewrite that never finished its write
        return "reaped_tmp"
    return "clean"


def atomic_rewrite(spark: SparkSession, frame: DataFrame, path: str) -> None:
    """Replace the parquet store at ``path`` with ``frame`` using the
    tmp-dir + rename protocol above.  ``frame`` must NOT read from
    ``path`` lazily (callers materialize via localCheckpoint/persist
    first — the live store moves aside mid-call)."""
    recover_store(spark, path)
    jvm, fs = _fs(spark, path)
    live, tmp, old = (_p(jvm, p) for p in (path, path + TMP_SUFFIX,
                                           path + OLD_SUFFIX))
    frame.write.mode("overwrite").parquet(path + TMP_SUFFIX)
    if fs.exists(live):
        if not fs.rename(live, old):
            raise IOError(f"atomic_rewrite: rename {live} -> {old} failed")
    if not fs.rename(tmp, live):
        # roll back so the store is never left absent
        fs.rename(old, live)
        raise IOError(f"atomic_rewrite: rename {tmp} -> {live} failed")
    if fs.exists(old):
        fs.delete(old, True)


def index_epoch(
    keys: DataFrame,
    pair_fn: Callable[..., DataFrame],
    index_dir: str,
    pairs_dir: str,
    index_schema: str,
    reps_index_dir: str | None = None,
) -> None:
    """One epoch of an append-only near-dup index: screen the epoch's
    ``keys`` (band / cell / fingerprint rows, already in the index's
    column layout) against themselves and against the persisted index,
    then append them to it.

    ``pair_fn(keys)`` is the pair operator's self-join and
    ``pair_fn(keys, index)`` its index join (index vs broadcast keys),
    the unified signature of ``lsh_band_pairs``,
    ``simhash_neardup_pairs``, ``video_neardup_pairs`` and
    ``semantic_candidate_pairs``. The contract every incremental leg
    shares:

    - ``keys`` are persisted for the epoch, so the key lane (signatures,
      cell assignment, payload decode) runs once;
    - the index join reads ``reps_index_dir`` when that store exists,
      else the full ``index_dir`` (read with ``index_schema``); with
      neither, the epoch has only its self-join pairs;
    - pairs are written (``distinct()``, appended to ``pairs_dir``)
      BEFORE the keys are appended to the index(es).

    Every key belongs to exactly one epoch, so each pair surfaces
    exactly once — in the self-join if both sides arrived together,
    else in the index join of the later side's epoch — and the
    accumulated pairs of a drained stream equal the batch self-join.
    A replayed epoch re-appends deterministic rows to both stores;
    readers ``distinct()`` them away."""
    spark = keys.sparkSession
    keys = keys.persist()
    try:
        pairs = pair_fn(keys)
        join_dir = (
            reps_index_dir
            if reps_index_dir is not None and path_exists(spark, reps_index_dir)
            else index_dir
        )
        if path_exists(spark, join_dir):
            index = spark.read.schema(index_schema).parquet(join_dir)
            pairs = pairs.unionByName(pair_fn(keys, index))
        pairs.distinct().write.mode("append").parquet(pairs_dir)
        keys.write.mode("append").parquet(index_dir)
        if reps_index_dir is not None:
            # new rows stay individually matchable until the next
            # reps refresh folds them into components
            keys.write.mode("append").parquet(reps_index_dir)
    finally:
        keys.unpersist()
