"""The connected-components engine: partition spanning-forest
contraction + alternating large-star/small-star rounds, which bounds
every shuffle after the contraction scan by the forest-sized frame.
These tests force the distributed path with driver_threshold=0 and
check it against the union-find fixpoint, its structural bounds, the
self-loop singleton edge case, and the order-preserving dense index
that serves string and decimal ids.
"""

from __future__ import annotations

import random
from decimal import Decimal

import pytest

from dataengineering_spark.operators.dedup import (
    _driver_union_find,
    _partition_forest,
    _star_rounds,
    connected_components,
)

# Long-horizon fuzz/soak/equivalence suite: excluded from the default
# (driver-budget) pytest run; gates shipping via `make test-slow`.
pytestmark = pytest.mark.slow


def _star_path(pairs, **kw):
    # driver_threshold=0 forces the distributed engine: contraction +
    # star rounds
    return connected_components(pairs, driver_threshold=0, **kw)


def test_star_path_matches_union_find_on_random_graphs(spark):
    for seed, n, m in [(3, 200, 300), (5, 500, 120), (9, 30, 900)]:
        random.seed(seed)
        edges = [
            (random.randrange(n), random.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(
            edges, "doc_a long, doc_b long"
        ).repartition(7)
        expect = _driver_union_find(edges)
        got = {r.doc_id: r.component for r in _star_path(pairs).collect()}
        assert got == expect, (seed, len(got), len(expect))


def test_star_path_long_chain_converges(spark):
    """A diameter-300 chain: the star rounds must reach the fixpoint
    well inside max_iterations (tree heights shrink geometrically),
    and every node labels to the global min."""
    chain = [(i, i + 1) for i in range(300)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = _star_path(pairs, max_iterations=15).collect()
    assert len(got) == 301
    assert {r.component for r in got} == {0}


def test_star_path_keeps_self_loop_singletons(spark):
    """A node whose every edge is a self-loop never reaches the
    contracted forest — it must still come back as its own
    singleton component (parity with the driver union-find)."""
    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (9, 9)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component for r in _star_path(pairs).collect()}
    assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_partition_forest_is_connectivity_preserving_and_bounded(spark):
    """The contraction invariants: per partition the output is a
    spanning forest with roots as explicit (n, n) self-rows — exactly
    one row per local node, so globally <= sum of per-partition node
    counts — and the union of forests has exactly the input graph's
    components. The self-rows mean downstream derives the complete
    node set from the forest and never re-scans the pair frame (r11)."""
    random.seed(21)
    edges = [
        (random.randrange(120), random.randrange(120)) for _ in range(2000)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    forest = _partition_forest(df)
    rows = [(r.src, r.dst) for r in forest.collect()]
    node_set = {x for e in edges for x in e}
    # one row per (partition-local) node: for a dense graph (2000
    # edges, <=120 nodes) the contracted frame must be at most
    # 8 partitions x nodes, and far below the edge count
    assert len(rows) <= 8 * len(node_set)
    assert len(rows) < len(edges)
    assert _driver_union_find(rows) == _driver_union_find(edges)
    # the src column carries the COMPLETE node set
    assert {s for s, _d in rows} == node_set
    # star output shape: every edge points node -> local root (roots
    # self-referencing), and roots are local minima (np.unique index
    # order == id order)
    assert all(s >= d for s, d in rows)
    assert any(s == d for s, d in rows)  # roots present as self-rows


def test_star_rounds_fixpoint_on_star_forest_is_immediate(spark):
    """A frame that is already a star forest centered at component
    minima must be recognized as the fixpoint on the first round —
    the convergence check, not the round cap, ends the loop."""
    stars = [(i, 0) for i in range(1, 6)] + [(j, 10) for j in (11, 12)]
    df = spark.createDataFrame(stars, "src long, dst long")
    labels = _star_rounds(df, max_iterations=1)  # 1 round must suffice
    got = {r.doc_id: r.component for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 10: 10, 11: 10, 12: 10}


def test_star_round_plan_never_joins_an_unbounded_edge_frame(spark):
    """Plan-shape pin for the round engine: a star round's joins key
    on the CURRENT (forest-sized) frame only — the plan must not
    contain a BroadcastNestedLoopJoin or cartesian product, and the
    groupBy side is a partial (map-side combined) aggregate, so
    per-round shuffle is bounded by the frame itself. Pins ONE round's
    plan via _star_round — the _star_rounds return value is an eagerly
    materialized LogicalRDD since r11, which would make this vacuous."""
    from dataengineering_spark.operators.dedup import _star_round

    df = spark.range(37, 2000).selectExpr(
        "id AS src", "id % 37 AS dst"
    )
    one_round = _star_round(df)
    plan = one_round._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    labels = _star_rounds(df, max_iterations=10)
    got = {r.doc_id: r.component for r in labels.collect()}
    expect = _driver_union_find(
        [(i, i % 37) for i in range(37, 2000)]
    )
    assert got == expect  # 37 residue-class star components


def test_star_rounds_output_is_materialized_and_released(spark):
    """ADVICE r10: _star_rounds leaked its final persisted edge frame
    and connected_components unpersisted the node frame before the
    output was consumed (recomputing the full pair scan downstream).
    Both now return an eagerly-materialized LogicalRDD holding no
    lineage back to the inputs — and no persisted frame from the call
    survives it."""
    import random

    before = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    random.seed(11)
    edges = [(random.randrange(60), random.randrange(60)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = _star_path(pairs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    # every persist taken during the call is released by return time;
    # only localCheckpoint block sets (storage of the materialized
    # results, reclaimed on GC) may remain
    after = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    jsc = spark.sparkContext._jsc
    leaked = []
    for rid in after - before:
        rdd = jsc.getPersistentRDDs().get(rid)
        if rdd is not None and not rdd.rdd().isLocallyCheckpointed():
            leaked.append(rid)
    assert leaked == [], f"persisted frames leaked by connected_components: {leaked}"
    assert {r.doc_id: r.component for r in out.collect()} == _driver_union_find(edges)
    # the string-id path persists its dense index and follows the same
    # release discipline
    str_pairs = spark.createDataFrame(
        [(f"n{a:02d}", f"n{b:02d}") for a, b in edges],
        "doc_a string, doc_b string",
    )
    out_str = _star_path(str_pairs)
    str_plan = out_str._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in str_plan, str_plan
    after_str = {
        rid for rid in
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    leaked_str = []
    for rid in after_str - after:
        rdd = jsc.getPersistentRDDs().get(rid)
        if rdd is not None and not rdd.rdd().isLocallyCheckpointed():
            leaked_str.append(rid)
    assert leaked_str == [], f"string-id path leaked persisted frames: {leaked_str}"
    assert {r.doc_id: r.component for r in out_str.collect()} == {
        f"n{d:02d}": f"n{c:02d}" for d, c in _driver_union_find(edges).items()
    }


@pytest.mark.parametrize(
    "ddl,conv",
    [
        ("string", lambda x: f"id-{x:03d}"),
        ("decimal(20,0)", lambda x: Decimal(10**18 + x)),
    ],
    ids=["string", "decimal"],
)
def test_cc_star_non_integral_ids_keep_caller_type(spark, ddl, conv):
    """Non-integral ids run the same star engine through an
    order-preserving dense long index (distinct ids -> orderBy ->
    zipWithIndex), so the min index is the min original id. Both the
    distributed and the driver-gate path return the union-find
    labeling in the caller's id type."""
    random.seed(17)
    raw = [(random.randrange(50), random.randrange(50)) for _ in range(70)]
    edges = [(conv(a), conv(b)) for a, b in raw]
    pairs = spark.createDataFrame(
        edges, f"doc_a {ddl}, doc_b {ddl}"
    ).repartition(5)
    expect = _driver_union_find(edges)
    for out in (_star_path(pairs), connected_components(pairs)):
        for col in ("doc_id", "component"):
            assert out.schema[col].dataType.simpleString() == ddl
        assert {r.doc_id: r.component for r in out.collect()} == expect


def test_cc_star_int32_ids_cast_up_to_long(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 9)], "doc_a int, doc_b int"
    )
    out = connected_components(pairs, driver_threshold=0)
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"
    got = {r.doc_id: r.component for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 9}


def test_cc_star_pass1_repartition_branch(spark, monkeypatch):
    """Force the pass-1 sizing branch (ADVICE r10: a coarsely
    partitioned dense pair frame must be repartitioned before the
    first contraction) by shrinking the thresholds; the labeling must
    be unchanged."""
    import random

    from dataengineering_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_FOREST_PASS1_MAX_PER_PART", 10)
    monkeypatch.setattr(dd, "_FOREST_TARGET_EDGES_PER_PART", 5)
    random.seed(7)
    edges = [(random.randrange(40), random.randrange(40)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        edges, "doc_a long, doc_b long"
    ).coalesce(1)  # one huge partition — the shape the branch guards
    # driver_threshold=1: keeps the gate's count (which feeds pass-1
    # sizing) without triggering the driver endgame; a forced
    # driver_threshold=0 skips the valve by design (the count would
    # re-evaluate the whole pair join — the r11 sf10 A/B lesson)
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, driver_threshold=1).collect()
    }
    assert got == _driver_union_find(edges)


def test_sig_fixpoint_null_hash_forces_round():
    """A NULL (count, Σ xxhash64) hash — DECIMAL(38,0) overflow with
    ANSI off — must never satisfy the star fixpoint check: overflow
    degrades to extra rounds, not to a count-only false fixpoint
    (ADVICE r11). The only NULL==NULL fixpoint is two EMPTY edge sets."""
    from dataengineering_spark.operators.dedup import _sig_fixpoint

    assert _sig_fixpoint((0, None), (0, None))  # empty edge sets
    assert not _sig_fixpoint((5, None), (5, None))  # overflow: force round
    assert not _sig_fixpoint((5, 123), (5, None))
    assert not _sig_fixpoint((5, None), (5, 123))
    assert _sig_fixpoint((5, 123), (5, 123))
    assert not _sig_fixpoint((5, 123), (5, 124))
    assert not _sig_fixpoint((5, 123), (4, 123))


def test_cc_telemetry_records_convergence(spark):
    """telemetry= fills the convergence record off the aggregates the
    engine already runs (VERDICT r11 #7): edge trajectories, rounds to
    fixpoint, endgame — probes persist it so convergence regressions
    are visible, not just wall time."""
    import random

    from dataengineering_spark.operators.dedup import connected_components

    rng = random.Random(7)
    nodes = list(range(300))
    edges = [
        (a, b)
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(500)
        )
        if a != b
    ]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    tel: dict = {}
    labeled = connected_components(
        df, driver_threshold=0, telemetry=tel
    ).collect()
    assert tel["endgame"] == "star"
    assert tel["n_nodes"] == len({r["doc_id"] for r in labeled})
    assert tel["forest_edge_trajectory"][0] > 0
    assert tel["star_converged"] is True
    assert tel["star_rounds_to_fixpoint"] == (
        len(tel["star_edge_trajectory"]) - 1
    )
    # trajectory is monotone non-increasing after the first round
    t = tel["star_edge_trajectory"]
    assert all(b <= a for a, b in zip(t[1:], t[2:]))
    # driver endgame records too
    tel2: dict = {}
    small = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    connected_components(small, telemetry=tel2).collect()
    assert "endgame" not in tel2 or tel2["endgame"] == "driver"
