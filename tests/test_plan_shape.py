"""Physical-plan assertions: the 100 TB posture, checked in CI.

A correct result with the wrong plan shape (shuffle instead of
broadcast, full scan instead of pushdown) is a 1000-executor incident
waiting to happen — so the plan shape is part of the contract.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataengineering_spark.catalog import read_table
from dataengineering_spark.plans.queries import QUERIES, q_enrichment_pipeline
from dataengineering_spark.plans.queries_relational import q_shipping_priority
from tests.conftest import SF_ORACLE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrichment_joins_are_broadcast(spark):
    plan = plan_of(q_enrichment_pipeline(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


def test_multi_join_broadcasts_all_dims(spark):
    plan = plan_of(q_shipping_priority(spark, SF_ORACLE))
    assert plan.count("SortMergeJoin") <= 1  # orders⋈lineitem may merge
    assert "BroadcastHashJoin" in plan  # customer must broadcast


def test_filter_pushdown_reaches_scan(spark):
    ev = read_table(spark, "events", SF_ORACLE)
    df = ev.filter((F.col("event_id") > 100) & (F.col("event_type") == "click"))
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThan(event_id,100)" in plan.replace(" ", "").replace("`", "") or "GreaterThan" in plan


def test_column_pruning_reaches_scan(spark):
    li = read_table(spark, "lineitem", SF_ORACLE)
    df = li.select("l_returnflag").distinct()
    plan = plan_of(df)
    # ReadSchema must carry only the projected column
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_returnflag" in read_schema[0]
    assert "l_extendedprice" not in read_schema[0]


@pytest.mark.slow  # whole-registry plan scan (~70-80 s): driver-budget exclusion, runs in make test-slow
def test_no_cartesian_products_anywhere(spark):
    """No registry query may contain a cartesian/nested-loop join —
    the plan shape that cannot scale. (The one intentional 1-row
    attach is implemented as literals, exactly to avoid this.)"""
    offenders = []
    for name, spec in QUERIES.items():
        plan = plan_of(spec.fn(spark, SF_ORACLE))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in (
            "cosine_topk",
            "knn_label_accuracy",  # rides cosine_topk's query broadcast
            "ivf_ann",
            "pq_ann",
            "dormant_customers",
            "important_parts",
            "kmv_intersect",
            "hard_negatives",
            "cooccurrence_pairs",
            "ndcg_eval",  # rides cosine_topk's query broadcast
            "ann_recall",  # rides cosine_topk's query broadcast (exact arm)
            "blocking_quality",  # four 1-row audit-scalar attaches
            "dsir_weights",  # 1-row corpus-totals attach onto the B-row prob table
            "dsir_resample",  # rides dsir_scores' same 1-row totals attach
            "unk_rate_at_k",  # 1-row coverage x 1-row total-occurrence attach
        ):
            # cosine_topk's / hard_negatives' query-broadcast
            # crossJoins, ivf_ann's centroid-assignment crossJoin,
            # pq_ann's broadcast-LUT crossJoin, and dormant_customers'
            # / important_parts' / kmv_intersect's /
            # cooccurrence_pairs' 1-row scalar-subquery attaches are
            # the deliberate nested-loops: the broadcast side
            # (|queries|, C centroids, one LUT row per query, one
            # scalar row) is tiny by contract.
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


@pytest.mark.slow  # whole-registry plan scan (~70-80 s): driver-budget exclusion, runs in make test-slow
def test_no_single_partition_window_anywhere(spark):
    """No registry query may rank/aggregate through a partition-less
    Window: `Exchange SinglePartition` directly under a Window funnels
    the entire input through one task — the classic scale-killer
    (round-1 finding on the IVF seed selection). Global scalar
    aggregates (SinglePartition over a 1-row-per-partition partial
    agg) are fine; a Window over one is not."""
    offenders = []
    for name, spec in QUERIES.items():
        plan = plan_of(spec.fn(spark, SF_ORACLE))
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Window" not in line:
                continue
            # walk down the subtree printout until the next operator at
            # the same-or-shallower depth; a SinglePartition exchange
            # in between feeds this window.
            for nxt in lines[i + 1 : i + 6]:
                if "Exchange SinglePartition" in nxt:
                    offenders.append((name, line.strip()[:80]))
                    break
                if "Exchange" in nxt or "Scan" in nxt or "Join" in nxt:
                    break
    assert not offenders, offenders


def test_ivf_assignment_is_shuffle_free(spark):
    """IVF cell assignment must be a narrow map: centroids inlined as
    literals, per-row struct(d2, cid) sort — no Exchange, Join, or
    Window between the corpus scan and the cell id (round-2 finding:
    the crossJoin+Window shape shuffled corpus × C rows per Lloyd
    iteration)."""
    from dataengineering_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    emb = read_table(spark, "embeddings", SF_ORACLE)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    plan = plan_of(ivf_assign(e, ivf_seed_centroids(e, 8)))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_value_percentiles_single_range_exchange(spark):
    """q_value_percentiles references its range-partitioned frame from
    two branches (offsets + ranked) and is only correct because
    ReuseExchange collapses the two identical range exchanges into one
    execution — RangePartitioner samples bounds per execution, so two
    independent exchanges could assign different pids and misalign the
    offsets. This guard fails if the plan ever stops reusing (config
    change, canonicalization defeat), at which point the frame must be
    persisted instead (see operators/chunking.py for that pattern)."""
    from dataengineering_spark.plans.queries_analytics import q_value_percentiles

    # Other operators (discrete_pcts et al.) persist_tracked the SAME
    # repartitionByRange(event_type, value, event_id) layout; if one ran
    # earlier this session, Spark's cache manager substitutes that
    # InMemoryRelation into this query's subtrees and the exchange-reuse
    # shape below disappears (still correct — even more strongly pinned —
    # but not the clean-session plan the driver executes). Clear caches
    # so the guard checks the shape that actually ships.
    from dataengineering_spark.caching import release_tracked

    release_tracked()
    spark.catalog.clearCache()

    df = q_value_percentiles(spark, SF_ORACLE)
    df.collect()  # AQE reuse is a runtime decision — inspect the final plan
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    n_range = sum(
        1
        for line in final.splitlines()
        if "Exchange rangepartitioning" in line and "Reused" not in line
    )
    assert n_range == 1, final
    assert "ReusedExchange" in final, final


def test_log_index_matches_pandas_rank_semantics(spark):
    """W1 exactness: row_number over (sort_cols) must equal pandas'
    sort_values + groupby(key).rank(method='first') — the reference's
    exact recipe (clickhouse/v1/operator.py:455-470)."""
    import pandas as pd

    from dataengineering_spark.operators.windows import log_index
    from dataengineering_spark.plans.queries import transfers_from_events

    tr = transfers_from_events(read_table(spark, "events", SF_ORACLE))
    ours = {
        (r.transfer_id): r.log_index
        for r in log_index(
            tr, "transaction_id", ["block_date_time", "transfer_id"]
        ).collect()
    }

    pdf = tr.select(
        "transfer_id", "transaction_id", "block_date_time"
    ).toPandas()
    pdf = pdf.sort_values(["block_date_time", "transfer_id"])
    pdf["log_index"] = (
        pdf.groupby("transaction_id")["block_date_time"]
        .rank(method="first")
        .astype(int)
    )
    theirs = dict(zip(pdf["transfer_id"], pdf["log_index"]))
    assert ours == theirs


def test_benchmark_overlap_broadcasts_benchmark(spark):
    """Contamination check: the benchmark n-gram set must broadcast so
    the corpus n-gram stream is filtered map-side — the only exchange
    feeds the per-document aggregate with matched rows."""
    from dataengineering_spark.plans.queries_llm import q_benchmark_overlap

    plan = plan_of(q_benchmark_overlap(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_lsh_broadcasts_new_batch(spark):
    """Incremental dedup: the incoming batch's band frame broadcasts;
    the index band stream must never sort-merge against it."""
    from dataengineering_spark.operators.dedup import incremental_lsh_matches
    from dataengineering_spark.plans.queries_llm import _perturbed_batch

    docs = read_table(spark, "documents", SF_ORACLE)
    cand = incremental_lsh_matches(
        _perturbed_batch(docs), docs.select("doc_id", "text")
    )
    plan = plan_of(cand)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _pair_family_inputs(spark, family: str):
    """(batch keys, index) frames in the layout each pair family joins."""
    from dataengineering_spark.operators.dedup import lsh_bands, minhash_signatures

    if family == "lsh_band_pairs":
        docs = spark.createDataFrame(
            [(i, f"document {i} about incremental near duplicate screening")
             for i in range(8)],
            "doc_id long, text string",
        )
        frame = lsh_bands(minhash_signatures(docs))
        key = "doc_id"
    elif family == "simhash_neardup_pairs":
        frame = spark.createDataFrame(
            [(i, (i * 2654435761) % (1 << 31)) for i in range(20)],
            "doc_id long, simhash long",
        )
        key = "doc_id"
    elif family == "video_neardup_pairs":
        frame = spark.createDataFrame(
            [(v, s, ((v * 4 + s + 1) * 0x9E3779B97F4A7C15) % (1 << 63))
             for v in range(10) for s in range(4)],
            "doc_id long, slot int, dhash long",
        )
        key = "doc_id"
    else:
        frame = spark.createDataFrame(
            [(i, [float(i), 1.0], float(i * i + 1), i % 3) for i in range(20)],
            "vec_id long, v array<double>, dd double, cid int",
        )
        key = "vec_id"
    return frame.filter(F.col(key) >= 5), frame.filter(F.col(key) < 5)


@pytest.mark.parametrize(
    "family",
    [
        "lsh_band_pairs",
        "simhash_neardup_pairs",
        "video_neardup_pairs",
        "semantic_candidate_pairs",
    ],
)
def test_index_join_broadcasts_batch_side(spark, family):
    """The incremental scale contract of every pair family: called with
    ``index=``, the (huge, persisted) index is filtered map-side
    against the BROADCAST batch keys and never shuffles. Size-based
    broadcasting is switched off, so only the operator's own hint can
    plan the BroadcastHashJoin."""
    from dataengineering_spark.operators import dedup

    keys, index = _pair_family_inputs(spark, family)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(getattr(dedup, family)(keys, index=index))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_index_join_refuses_bucket_cap(spark):
    """The hot-bucket cap is a whole-corpus function: an epoch-local cap
    would break stream == batch, so the pigeonhole families refuse
    ``index`` together with ``max_bucket_size`` before planning."""
    from dataengineering_spark.operators import dedup

    for family in ("simhash_neardup_pairs", "video_neardup_pairs"):
        keys, index = _pair_family_inputs(spark, family)
        with pytest.raises(ValueError, match="max_bucket_size"):
            getattr(dedup, family)(keys, index=index, max_bucket_size=10)


def test_pq_encode_is_narrow_map(spark):
    """PQ corpus encoding must be a pure narrow map: codebooks inlined
    as literals, per-subspace argmin in-row — no Exchange, Join, or
    Window between the corpus scan and the code column."""
    from dataengineering_spark.operators.similarity import (
        _codebook_rows,
        pq_codebooks,
        pq_encode,
    )

    emb = read_table(spark, "embeddings", SF_ORACLE)
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    by_m = _codebook_rows(pq_codebooks(e, 4, 8, 1, 64))
    plan = plan_of(pq_encode(e, by_m, 4, 16))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_ivfpq_scores_only_probed_cells(spark):
    """IVF-PQ composition: the ADC scoring join must be an equi-join on
    the cell id against a broadcast probe frame — never a cartesian
    against the full code table — so only candidates in probed cells
    are ever scored. The corpus side stays shuffle-free: cell assign +
    PQ encode fuse into the scan stage, so the only exchanges in the
    whole plan belong to the final bounded top-k windows."""
    from dataengineering_spark.plans.queries_llm import q_ivfpq_ann

    df = q_ivfpq_ann(spark, SF_ORACLE)
    plan = plan_of(df)
    assert "BroadcastHashJoin [cid" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_round6_query_plans_have_sane_shapes(spark):
    """Round-6 additions: broadcast where a dim is small, no nested-loop
    or cartesian anywhere, no single-partition exchange."""
    from dataengineering_spark.caching import release_tracked

    checks = {
        # part is a dim → must broadcast into the lineitem scan
        "promo_revenue_monthly": lambda p: "BroadcastHashJoin" in p,
        # equi hash join on orderkey; at sf0.01 AQE legitimately
        # broadcasts the 1996-filtered lineitem side (it's tiny after
        # pushdown), at scale it stays a shuffle join — either is the
        # right call, a nested loop never is
        "shipmode_priority": lambda p: (
            "SortMergeJoin" in p
            or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p
        ),
        # digest-keyed self-join: equi-join only
        "prefix_dedup": lambda p: True,
        "content_dedup": lambda p: True,
        "ngram_novelty": lambda p: True,
        "embedding_norm_hist": lambda p: True,
    }
    for name, extra in checks.items():
        df = QUERIES[name].fn(spark, SF_ORACLE)
        df.collect()
        p = plan_of(df)
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name
        assert "Exchange SinglePartition" not in p, name
        assert extra(p), (name, p)
        release_tracked()
