"""etl_batch: registry ETL queries over seed-generated tables.

One operation is one query: the builder call ``QUERIES[name].fn`` and
a noop write of its result. Operations run in whole passes over the
query list, one client waiting for each result (a backlog drain).
"""

from __future__ import annotations

import os
import re

from common import Ctx, Op, digest, mean_part, norm_cell, now
import gen

# An odd count, so that the median operation is one query's latency
# (with six, it was the midpoint of the gap between the third- and
# fourth-fastest query and spread by 28% between runs).
QUERY_NAMES = (
    "enrichment_pipeline",
    "pricing_summary",
    "log_index",
    "transactions_agg",
    "chain_state_pivot",
)


class EtlBatch:
    name = "etl_batch"

    def setup(self, ctx: Ctx) -> None:
        from dataengineering_spark.plans.queries import QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.sf_dir = os.path.join(ctx.work, "tables")
        counts = gen.etl_tables(self.sf_dir, ctx.seed)
        # input rows of a query = rows of every table its oracle reads
        self.input_rows = {
            q: sum(n for t, n in counts.items() if re.search(rf"\b{t}\b", QUERIES[q].sql))
            for q in QUERY_NAMES
        }
        # the results collected after every window, checked against
        # the oracle later
        self.results: list[dict] = []
        # Warm-up pass of the timed operation: JIT and codegen caches
        # fill here, outside the timed region.
        for q in QUERY_NAMES:
            QUERIES[q].fn(ctx.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            self._reset()

    def verify(self) -> None:
        """After a window, outside the timer: build every query once more
        on the same session and collect its result for the oracle
        check, so a result that goes wrong on repeated calls (state a
        builder leaves behind, caching) fails the check."""
        results = {}
        for q in QUERY_NAMES:
            df = self.queries[q].fn(self.ctx.spark, self.sf_dir)
            cols = sorted(df.columns)
            results[q] = (cols, [tuple(norm_cell(r[c]) for c in cols) for r in df.collect()])
            self._reset()
        self.results.append(results)

    def _reset(self) -> None:
        from dataengineering_spark.caching import release_tracked

        release_tracked()
        self.ctx.spark.catalog.clearCache()

    def run(self, seconds: float) -> tuple[list[Op], float]:
        """Whole passes until ``seconds`` have passed."""
        sc = self.ctx.spark.sparkContext
        ops: list[Op] = []
        start = now()
        while now() - start < seconds:
            for q in QUERY_NAMES:
                group = f"etl-{len(ops)}"
                t0 = now()
                if self.ctx.traced:
                    sc.setJobGroup(f"{group}-build", q)
                df = self.queries[q].fn(self.ctx.spark, self.sf_dir)
                t_built = now()
                if self.ctx.traced:
                    sc.setJobGroup(f"{group}-action", q)
                df.write.format("noop").mode("overwrite").save()
                t1 = now()
                op = Op(q, t0, t1, self.input_rows[q])
                op.parts["build_s"] = t_built - t0
                op.parts["action_s"] = t1 - t_built
                if self.ctx.traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    op.parts["build_jobs"] = len(
                        sc.statusTracker().getJobIdsForGroup(f"{group}-build")
                    )
                ops.append(op)
                self._reset()
        return ops, now() - start

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        return {
            "plans.build_s": mean_part(ops, "build_s"),
            "plans.build_jobs": mean_part(ops, "build_jobs"),
            "plans.action_s": mean_part(ops, "action_s"),
        }

    def check(self, ops: list[Op]) -> list[str]:
        """Each query's results, collected after every window, against its
        registry DuckDB oracle on the same generated tables: same
        columns, same row count, same order-insensitive digest. Marks the operations of a query that
        fails and returns the failure messages."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in gen.ETL_ROWS:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            failures = []
            for q in QUERY_NAMES:
                rel = con.sql(self.queries[q].sql)
                idx = {c: i for i, c in enumerate(rel.columns)}
                want_cols = sorted(rel.columns)
                want = [tuple(norm_cell(r[idx[c]]) for c in want_cols) for r in rel.fetchall()]
                for i, results in enumerate(self.results):
                    cols, rows = results[q]
                    if cols != want_cols:
                        failures.append(f"{q}: pass {i} columns {cols} vs oracle {want_cols}")
                    elif len(want) != len(rows) or digest(want) != digest(rows):
                        failures.append(f"{q}: pass {i} {len(rows)} rows vs oracle {len(want)}, digest differs")
        finally:
            con.close()
        bad = {f.split(":")[0] for f in failures}
        for op in ops:
            op.ok = op.name not in bad
        return failures
