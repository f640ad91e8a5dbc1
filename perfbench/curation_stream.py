"""curation_stream: the composed LLM-curation stream.

``curation_pipeline_stream`` (availableNow, one epoch file per trigger)
runs over seed-generated documents ⋈ embeddings with image payloads,
with the Gopher quality gate, the media dHash leg, pair-store
compaction and both representatives indexes on; each pass ends with
``curation_finish``. One operation is one epoch trigger, timed by the
stream's own progress (``triggerExecution``). Passes repeat over the
same arrivals, each into fresh checkpoint and store directories.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import json
import math
import os

import pyarrow.parquet as pq

from common import ROOT, WORK_ROOT, Ctx, Op, digest, dir_bytes, fresh_dir, mean_part, now
import gen

EPOCHS = 2
PER_EPOCH = 100
COMPACT_EVERY = 2
WARMUP_DOCS = 20
N_GRAM, THRESHOLD = 8, 0.35
SELECT_PCT, BUDGET = 0.75, 7_000
STORES = ("quarantine", "rejects", "clean", "pairs", "index", "reps", "dsir", "midx", "mpairs", "mreps")


def _progress_time(p) -> float:
    ts = datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


def _ids(path: str) -> set[int]:
    if not os.path.isdir(path):
        return set()
    return set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())


def _components(pairs) -> dict[int, int]:
    """Union-find over (a, b) pairs: node -> smallest node of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _dot(a, b) -> float:
    acc = 0.0  # the left fold of operators.similarity.dot
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


class CurationStream:
    name = "curation_stream"

    def setup(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "arrivals")
        self.arrivals, self.cent_rows = gen.curation_arrivals(self.src, ctx.seed, EPOCHS, PER_EPOCH)
        self.bench = gen.contamination_benchmark(self.arrivals)
        self.passes: list[dict] = []
        # Warm-up stream over one small epoch, compacted at once: JIT,
        # codegen caches and the Python workers warm up here, outside
        # the timed region. It skips curation_finish, whose first call
        # (1-2 s slower than later ones) thus falls in the first timed
        # pass: warming it would add 7 s to every set-up.
        warm_src = os.path.join(ctx.work, "warmup-arrivals")
        warm, _ = gen.curation_arrivals(warm_src, ctx.seed + 1, 1, WARMUP_DOCS)
        self._pass(warm_src, gen.contamination_benchmark(warm), "warmup", compact_every=1, finish=False)
        self.passes.clear()

    def verify(self) -> None:
        """Nothing to collect: every pass is checked from its own stores
        and shards."""

    def _pass(
        self, src: str, bench_pdf, tag: str, compact_every: int = COMPACT_EVERY, finish: bool = True
    ) -> dict:
        from dataengineering_spark.caching import release_tracked
        from dataengineering_spark.streaming.curation import curation_finish, curation_pipeline_stream

        spark = self.ctx.spark
        d = fresh_dir(os.path.join(self.ctx.work, f"{tag}-{len(self.passes)}"))
        dirs = {s: os.path.join(d, s) for s in STORES}
        t0 = now()
        stream = (
            spark.readStream.schema(gen.ARRIVAL_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = curation_pipeline_stream(
            stream,
            spark.createDataFrame(bench_pdf),
            self.cent_rows,
            quarantine_dir=dirs["quarantine"],
            clean_dir=dirs["clean"],
            pairs_dir=dirs["pairs"],
            index_dir=dirs["index"],
            dsir_partials_dir=dirs["dsir"],
            checkpoint_dir=os.path.join(d, "checkpoint"),
            n=N_GRAM,
            threshold=THRESHOLD,
            quality_rejects_dir=dirs["rejects"],
            media_payload_col="payload",
            media_index_dir=dirs["midx"],
            media_pairs_dir=dirs["mpairs"],
            compact_every=compact_every,
            reps_index_dir=dirs["reps"],
            media_reps_index_dir=dirs["mreps"],
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"curation stream failed: {q.exception()}")
        t_stream = now()
        progress = [p for p in q.recentProgress if "addBatch" in p.durationMs]
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))
        shards = []
        if finish:
            shards = [
                tuple(r)
                for r in curation_finish(
                    spark,
                    self.cent_rows,
                    clean_dir=dirs["clean"],
                    pairs_dir=dirs["pairs"],
                    index_dir=dirs["index"],
                    dsir_partials_dir=dirs["dsir"],
                    select_pct=SELECT_PCT,
                    budget=BUDGET,
                    media_pairs_dir=dirs["mpairs"],
                    media_index_dir=dirs["midx"],
                )
                .select("doc_id", "n_chars", "cum_before", "seq_id", "offset_in_seq")
                .collect()
            ]
        release_tracked()
        t1 = now()
        ops = []
        for p in progress:
            dm = p.durationMs
            start = _progress_time(p)
            op = Op("epoch", start, start + dm["triggerExecution"] / 1000.0, 0)
            op.parts["epoch_s"] = dm["addBatch"] / 1000.0
            op.parts["trigger_overhead_s"] = (dm["triggerExecution"] - dm["addBatch"]) / 1000.0
            op.parts["query_planning_s"] = dm.get("queryPlanning", 0) / 1000.0
            ops.append(op)
        record = {
            "dir": d,
            "ops": ops,
            "shards": shards,
            "wall_s": t1 - t0,
            "finish_s": t1 - t_stream,
            "jobs": jobs,
        }
        self.passes.append(record)
        return record

    def run(self, seconds: float) -> tuple[list[Op], float]:
        """Whole passes until ``seconds`` have passed."""
        ops: list[Op] = []
        wall = 0.0
        while wall < seconds:
            rec = self._pass(self.src, self.bench, "pass")
            for op in rec["ops"]:
                op.rows = PER_EPOCH
            ops += rec["ops"]
            wall += rec["wall_s"]
        return ops, wall

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        """Stream progress per epoch, finisher time per pass, and the
        stores of the last pass as they stand after the run."""
        timed = {id(op) for op in ops}
        passes = [rec for rec in self.passes if id(rec["ops"][0]) in timed]
        last = passes[-1]["dir"]
        pairs = pq.read_table(os.path.join(last, "pairs"), columns=["vec_a", "vec_b"])
        distinct = len(set(zip(*(c.to_pylist() for c in pairs.columns))))
        return {
            "streaming.curation.epochs": float(len(ops)),
            "streaming.curation.epoch_s": mean_part(ops, "epoch_s"),
            "streaming.curation.trigger_overhead_s": mean_part(ops, "trigger_overhead_s"),
            "streaming.curation.jobs_per_epoch": sum(r["jobs"] for r in passes) / len(ops),
            "streaming.curation.finish_s": sum(r["finish_s"] for r in passes) / len(passes),
            "streaming.store.pairs_rows": float(pairs.num_rows),
            "streaming.store.pairs_distinct_share": distinct / pairs.num_rows if pairs.num_rows else 1.0,
            "streaming.store.index_rows": float(pq.read_table(os.path.join(last, "index"), columns=["vec_id"]).num_rows),
            "streaming.store.reps_rows": float(pq.read_table(os.path.join(last, "reps"), columns=["vec_id"]).num_rows),
            "streaming.store.bytes": float(sum(dir_bytes(os.path.join(last, s)) for s in STORES)),
        }

    def check(self, ops: list[Op]) -> list[str]:
        failures = []
        arrivals = set(self.arrivals.doc_id.tolist())
        digests = set()
        for rec in self.passes:
            problems = self._check_pass(rec, arrivals)
            digests.add(digest(rec["shards"]))
            if problems:
                failures.append(f"{os.path.basename(rec['dir'])}: " + "; ".join(problems))
                for op in rec["ops"]:
                    op.ok = False
        if len(digests) > 1:
            failures.append(f"final-shard digests differ between passes: {sorted(digests)}")
        elif digests:
            mismatch = self._record_digest(digests.pop())
            if mismatch:
                failures.append(mismatch)
        if failures:
            for op in ops:
                op.ok = False
        return failures

    def _check_pass(self, rec: dict, arrivals: set[int]) -> list[str]:
        d = rec["dir"]
        problems = []
        quarantine, rejects, clean = (_ids(os.path.join(d, s)) for s in ("quarantine", "rejects", "clean"))
        if quarantine & rejects or quarantine & clean or rejects & clean:
            problems.append("quarantine, rejects and clean overlap")
        if quarantine | rejects | clean != arrivals:
            problems.append("quarantine + rejects + clean != arrivals")
        survivors = self._survivors(d, clean)
        shards = sorted(rec["shards"])
        if not shards:
            problems.append("no shards")
        if any(r[0] not in survivors for r in shards):
            problems.append("a shard document is not a dedup survivor")
        cum = 0
        for doc_id, n_chars, cum_before, seq_id, offset in shards:
            if cum_before != cum or seq_id != cum // BUDGET or offset != cum % BUDGET:
                problems.append(f"shard packing breaks at doc {doc_id}")
                break
            cum += n_chars
        return problems

    def _survivors(self, d: str, clean: set[int]) -> set[int]:
        """Dedup survivors recomputed in plain Python from the stores:
        the SemDeDup keep-rule (lowest cosine to the cell centroid per
        pair component) and then the media keep-rule (lowest doc id per
        perceptual component among documents still present)."""
        cents = {cid: cv for cid, cv in self.cent_rows}
        cells = pq.read_table(os.path.join(d, "index")).to_pylist()
        cells = {r["vec_id"]: r for r in cells}
        pairs = pq.read_table(os.path.join(d, "pairs"), columns=["vec_a", "vec_b"]).to_pylist()
        comp = _components((p["vec_a"], p["vec_b"]) for p in pairs)
        best: dict[int, tuple] = {}
        for vid, root in comp.items():
            c = cells.get(vid)
            if c is None:
                continue
            cv = cents[c["cid"]]
            cos = _dot(c["v"], cv) / (math.sqrt(c["dd"]) * math.sqrt(_dot(cv, cv)))
            best[root] = min(best.get(root, (math.inf, math.inf)), (cos, vid))
        keep = {vid for _, vid in best.values()}
        survivors = {v for v in clean if v in cells and (v not in comp or v in keep)}
        mdir = os.path.join(d, "mpairs")
        if os.path.isdir(mdir):
            mp = pq.read_table(mdir, columns=["doc_a", "doc_b"]).to_pylist()
            mcomp = _components((p["doc_a"], p["doc_b"]) for p in mp)
            first: dict[int, int] = {}
            for doc, root in mcomp.items():
                if doc in survivors:
                    first[root] = min(first.get(root, doc), doc)
            survivors -= {doc for doc, root in mcomp.items() if doc in survivors and first[root] != doc}
        return survivors

    def _record_digest(self, value: str) -> str | None:
        """Compare the final-shard digest with the one an earlier run of
        the same seed and the same code recorded; record it if none."""
        h = hashlib.sha256()
        for base in ("dataengineering_spark", "perfbench"):
            for path in sorted(glob.glob(os.path.join(ROOT, base, "**", "*.py"), recursive=True)):
                with open(path, "rb") as f:
                    h.update(f.read())
        path = os.path.join(WORK_ROOT, "digests", f"curation-{self.ctx.seed}-{h.hexdigest()[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                prior = json.load(f)["digest"]
            if prior != value:
                return f"final-shard digest {value[:12]} differs from an earlier run's {prior[:12]}"
            return None
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"digest": value}, f)
        return None
