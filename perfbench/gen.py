"""Seeded input generation.

Every workload input is a pure function of ``--seed``: the same seed
gives byte-identical parquet files. The generators are plain numpy and
pyarrow, so no Spark job runs while inputs are made, and the program
under test only ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the etl_batch tables, at the corpus's sf0.01 ratios
# (events : lineitem); line items refer to ORDERS order keys.
ETL_ROWS = {"events": 10_000, "lineitem": 60_000}
ORDERS = 15_000

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, input stream)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _ts_us(epoch_us: np.ndarray) -> pa.Array:
    return pa.array(epoch_us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _day_us(y: int, m: int, d: int) -> int:
    return int(pd.Timestamp(y, m, d).value // 1000)


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size)


def etl_tables(out_dir: str, seed: int) -> dict[str, int]:
    """The two corpus tables the etl_batch queries read, written as
    ``{out_dir}/{name}.parquet`` with the catalog's pinned schemas.
    Returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_ev, n_li = ETL_ROWS["events"], ETL_ROWS["lineitem"]

    r = _rng(seed, "events")
    gaps = r.exponential(30 * _US_PER_DAY / n_ev, n_ev).astype("int64") + 1
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts_us(_day_us(2024, 1, 1) + np.cumsum(gaps)),
                "user_id": pa.array(r.integers(0, max(1, n_ev * 3 // 200), n_ev), pa.int64()),
                "event_type": EVENT_TYPES[r.integers(0, 5, n_ev)],
                "value": np.round(r.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
            }
        ),
        f"{out_dir}/events.parquet",
    )

    r = _rng(seed, "lineitem")
    lo, hi = _day_us(1995, 1, 2) // _US_PER_DAY, _day_us(2001, 11, 4) // _US_PER_DAY
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(r.integers(0, ORDERS, n_li), pa.int64()),
                "l_partkey": pa.array(r.integers(0, n_li // 30, n_li), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, n_li // 600, n_li), pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
                "l_quantity": r.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_li), 2),
                "l_discount": r.integers(0, 11, n_li) / 100.0,
                "l_tax": r.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
                "l_shipdate": _ts_us(r.integers(lo, hi + 1, n_li) * _US_PER_DAY),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    return dict(ETL_ROWS)


# --- block_sync --------------------------------------------------------------

BLOCKS = 10_000  # ~10 rows per block, ~100k rows in all
BLOCK_SCHEMA = (
    "block long, block_date_time timestamp_ntz, tx_index int, from_address string,"
    " to_address string, value double, fee double, status string"
)


def block_stream(out_dir: str, seed: int, blocks: int = BLOCKS) -> pd.DataFrame:
    """A chain-shaped transfer stream: every block 0..blocks-1 holds at
    least one row, so a fully drained sync must land every block. Four
    files of consecutive block ranges, 8k-row row groups so a range
    predicate prunes. Returns the frame for the output check."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "blocks")
    per_block = 1 + r.poisson(9, blocks)
    block = np.repeat(np.arange(blocks), per_block)
    n = len(block)
    tx_index = np.arange(n) - np.repeat(np.cumsum(per_block) - per_block, per_block)
    block_ts = _day_us(2024, 1, 1) + np.cumsum(r.integers(10, 20, blocks)) * 1_000_000
    addr = np.array([f"0x{v:040x}" for v in r.integers(0, 2**62, 512)])
    df = pd.DataFrame(
        {
            "block": block.astype("int64"),
            "block_date_time": pd.to_datetime(block_ts[block], unit="us"),
            "tx_index": tx_index.astype("int32"),
            "from_address": addr[r.integers(0, 512, n)],
            "to_address": addr[r.integers(0, 512, n)],
            "value": np.round(r.exponential(120.0, n), 2),
            "fee": np.round(r.uniform(0.0, 0.01, n), 6),
            "status": np.where(r.random(n) < 0.9, "success", "failed"),
        }
    )
    for i, part in enumerate(np.array_split(np.arange(blocks), 4)):
        rows = df[(df.block >= part[0]) & (df.block <= part[-1])]
        table = pa.Table.from_pandas(rows, preserve_index=False)
        table = table.set_column(
            1, "block_date_time", table.column("block_date_time").cast(pa.timestamp("us"))
        )
        _write(table, f"{out_dir}/part-{i}.parquet", row_group_size=8192)
    return df


# --- curation_stream ---------------------------------------------------------

VOCAB = (
    "the a of and to in join hash row batch scan column customer filter small"
    " slow merge order vector line table data agg value key stream window"
    " spark part group big sort query fast"
).split()
DIM = 64
N_CENTROIDS = 8
NEAR_COPY_OFFSET = 97
ARRIVAL_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long,"
    " embedding array<float>, payload binary"
)


def curation_arrivals(
    out_dir: str, seed: int, epochs: int, per_epoch: int
) -> tuple[pd.DataFrame, list]:
    """Pre-joined documents ⋈ embeddings with an image payload, one
    parquet file per epoch (file mtimes ordered, so a one-file-per-
    trigger stream reads them in epoch order). Returns the arrivals
    frame and the frozen quantizer (random centroids).

    The mix is shaped so every stage has work: every 20th document is
    a single repeated word (fails the Gopher repetition rule), every
    10th embedding is a near copy of one ``NEAR_COPY_OFFSET`` ids
    earlier (a SemDeDup pair, often across epochs), and documents come
    in groups of three whose diagonal-gradient images are perceptual
    near-duplicates (a media pair).
    """
    from dataengineering_spark.functions.multimodal import make_diag_png

    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "curation")
    n = epochs * per_epoch
    ids = np.arange(n)
    vocab = np.array(VOCAB)
    lengths = r.integers(40, 120, n)
    texts = []
    for i, k in zip(ids, lengths):
        words = vocab[r.integers(0, len(vocab), k)]
        texts.append(" ".join([vocab[9]] * k if i % 20 == 7 else words))
    # isotropic noise: two unrelated embeddings almost never pass the
    # 0.35 cosine threshold, so the pair structure is the planted near
    # copies on every seed
    centres = r.normal(size=(N_CENTROIDS, DIM))
    emb = (r.normal(size=(n, DIM)) / 8).astype("float32")
    for j in range(NEAR_COPY_OFFSET, n):
        if ids[j] % 10 == 3:
            emb[j] = emb[j - NEAR_COPY_OFFSET] + (r.normal(size=DIM) / 80).astype("float32")
    pngs = []
    for i in ids:
        g = int(i) // 3
        pngs.append(
            make_diag_png(
                24 + g % 13 + (1 if i % 3 == 2 else 0),
                12 + g % 7,
                (g * 97) % 251,
                1 + (g * 7) % 113,
                (g * 13) % 251,
            )
        )
    df = pd.DataFrame(
        {
            "doc_id": ids.astype("int64"),
            "text": texts,
            "lang": "en",
            "source": [f"src{i % 5}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            "embedding": list(emb),
            "payload": pngs,
        }
    )
    for e in range(epochs):
        path = f"{out_dir}/epoch-{e:04d}.parquet"
        _write(pa.Table.from_pandas(df.iloc[e * per_epoch : (e + 1) * per_epoch], preserve_index=False), path)
        os.utime(path, (1_000_000_000 + e, 1_000_000_000 + e))
    cent_rows = [(c, [float(x) for x in v]) for c, v in enumerate(centres)]
    return df, cent_rows


def contamination_benchmark(arrivals: pd.DataFrame) -> pd.DataFrame:
    """Benchmark items: a verbatim 15-word excerpt of every 50th
    arrival (the q_benchmark_overlap construction), so those documents
    land in quarantine."""
    picked = arrivals[arrivals.doc_id % 50 == 0]
    return pd.DataFrame(
        {
            "item_id": picked.doc_id.to_numpy(),
            "text": [" ".join(t.split(" ")[5:20]) for t in picked.text],
        }
    )
