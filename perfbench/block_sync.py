"""block_sync: the incremental block-range sync state machine.

``IncrementalSyncRunner`` drains a seed-generated block stream in
fixed ``batch_size`` micro-batches: head probe, range select, a
conditional-sum transform, a parquet append sink, and the
destination-derived commit. One operation is one ``run_once`` call;
the loop is ``run_to_head``'s, with a timer around each call. A drain
that reaches the head before the window ends is followed by a fresh
drain into fresh sink and state directories.
"""

from __future__ import annotations

import os

import numpy as np

from common import Ctx, Op, fresh_dir, mean_part, now
import gen

BATCH_BLOCKS = 250  # ~2,500 rows per micro-batch
STREAMING_LAG = 5
WARMUP_BATCHES = 4
DEST_SCHEMA = "block long, n_tx long, value_ok double, fee_sum double, block_date_time timestamp_ntz"


class BlockSync:
    name = "block_sync"

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "blocks")
        self.blocks = gen.block_stream(self.src, ctx.seed)
        per_block = np.bincount(self.blocks.block.to_numpy(), minlength=gen.BLOCKS)
        self.rows_through = np.concatenate([[0], np.cumsum(per_block)])
        self.drains: list[tuple[str, list[Op], bool]] = []
        self._drain(deadline=None, max_batches=WARMUP_BATCHES, tag="warmup")
        self.drains.clear()

    def verify(self) -> None:
        """Nothing to collect: every drain is checked from its own
        destination and state."""

    def _drain(self, deadline, max_batches=None, tag="drain") -> list[Op]:
        from pyspark.sql import functions as F

        from dataengineering_spark.functions.scalars import conditional_sum, dsum
        from dataengineering_spark.streaming.runner import IncrementalSyncRunner, SyncConfig
        from dataengineering_spark.streaming.state import SyncStateStore

        spark = self.ctx.spark
        d = fresh_dir(os.path.join(self.ctx.work, f"{tag}-{len(self.drains)}"))
        dest, state = os.path.join(d, "dest"), os.path.join(d, "state")
        runner = IncrementalSyncRunner(
            spark,
            SyncStateStore(state),
            SyncConfig(stream="transfers", batch_size=BATCH_BLOCKS, streaming_lag=STREAMING_LAG),
        )
        source = spark.read.schema(gen.BLOCK_SCHEMA).parquet(self.src)
        timing = {"sink_s": 0.0, "commit_probe_s": 0.0}

        def transform(batch):
            return batch.groupBy("block").agg(
                F.count(F.lit(1)).alias("n_tx"),
                conditional_sum("value", F.col("status") == "success", "value_ok"),
                dsum("fee", "fee_sum"),
                F.max("block_date_time").alias("block_date_time"),
            )

        def sink(df):
            t = now()
            df.write.mode("append").parquet(dest)
            timing["sink_s"] += now() - t

        def destination_max():
            t = now()
            try:
                if not os.path.isdir(dest):
                    return None
                return spark.read.schema(DEST_SCHEMA).parquet(dest).agg(F.max("block")).collect()[0][0]
            finally:
                timing["commit_probe_s"] += now() - t

        ops: list[Op] = []
        complete = False
        while deadline is None or now() < deadline:
            if max_batches is not None and len(ops) >= max_batches:
                break
            timing.update(sink_s=0.0, commit_probe_s=0.0)
            t0 = now()
            rng = runner.run_once(source, transform, sink, destination_max)
            t1 = now()
            if rng is None:
                complete = True
                break
            op = Op("run_once", t0, t1, int(self.rows_through[rng.latest + 1] - self.rows_through[rng.last_synced + 1]))
            op.parts.update(timing)
            op.parts["negotiate_s"] = op.latency - timing["sink_s"] - timing["commit_probe_s"]
            ops.append(op)
        self.drains.append((d, ops, complete))
        return ops

    def run(self, seconds: float) -> tuple[list[Op], float]:
        start = now()
        ops: list[Op] = []
        while now() < start + seconds:
            ops += self._drain(start + seconds)
        return ops, now() - start

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {
            "streaming.runner.batches": float(len(ops)),
            "streaming.runner.negotiate_s": mean_part(ops, "negotiate_s"),
            "streaming.runner.sink_s": mean_part(ops, "sink_s"),
            "streaming.runner.commit_probe_s": mean_part(ops, "commit_probe_s"),
        }

    def check(self, ops: list[Op]) -> list[str]:
        """Per drain: the destination holds each source block up to the
        committed watermark exactly once, with the transform's values;
        a drain that reached the head committed head minus lag."""
        import pyarrow.parquet as pq

        from dataengineering_spark.streaming.state import SyncStateStore

        b = self.blocks
        want = (
            b.assign(
                n_tx=1,
                value_ok=np.where(b.status == "success", np.round(b.value * 100), 0).astype("int64"),
                fee_sum=np.round(b.fee * 1e6).astype("int64"),
            )
            .groupby("block")[["n_tx", "value_ok", "fee_sum"]]
            .sum()
        )
        head = int(self.blocks.block.max())
        failures = []
        for d, drain_ops, complete in self.drains:
            problems = []
            committed = SyncStateStore(os.path.join(d, "state")).get("transfers").last_synced_block
            got = pq.read_table(os.path.join(d, "dest")).to_pandas() if drain_ops else None
            if complete and committed != head - STREAMING_LAG:
                problems.append(f"watermark {committed} != head {head} - lag {STREAMING_LAG}")
            if got is not None:
                if got.block.duplicated().any():
                    problems.append("duplicate blocks in destination")
                if sorted(got.block) != list(range(committed + 1)):
                    problems.append("destination blocks differ from source blocks up to the watermark")
                got = got.set_index("block").sort_index()
                exp = want.loc[got.index]
                if not (
                    (got.n_tx.to_numpy() == exp.n_tx.to_numpy()).all()
                    and (np.round(got.value_ok.to_numpy() * 100) == exp.value_ok.to_numpy()).all()
                    and (np.round(got.fee_sum.to_numpy() * 1e6) == exp.fee_sum.to_numpy()).all()
                ):
                    problems.append("destination values differ from the source aggregates")
            if problems:
                failures.append(f"{os.path.basename(d)}: " + "; ".join(problems))
                for op in drain_ops:
                    op.ok = False
        return failures
