"""r14 optimization-round regression pins: the small-frame driver
gates must select exactly what their distributed formulations select.
(The global_discrete_pcts gate is fuzz-pinned in test_frontier_fuzz;
this file pins the query-level gates.)"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _null_metric_events(spark, sf_dir) -> str:
    """A tiny events corpus with one user whose ts is all NULL (NULL
    recency) and one whose value is all NULL (NULL money)."""
    from datetime import datetime

    from dataengineering_spark.catalog import SCHEMAS

    ts = datetime(2024, 1, 20)
    rows = [
        (1, ts, 1, "view", 1.5, None),
        (2, datetime(2024, 1, 5), 2, "view", 3.0, None),
        (3, datetime(2024, 1, 25), 2, "buy", 7.25, None),
        (4, datetime(2024, 1, 10), 3, "view", 0.5, None),
        (5, None, 4, "view", 2.0, None),  # NULL recency
        (6, None, 4, "buy", 4.0, None),
        (7, datetime(2024, 1, 30), 5, "view", None, None),  # NULL money
        (8, datetime(2024, 1, 12), 6, "buy", 9.0, None),
    ]
    spark.createDataFrame(rows, SCHEMAS["events"]).coalesce(1).write.parquet(
        f"{sf_dir}/events.parquet"
    )
    return str(sf_dir)


def test_rfm_segments_driver_gate_matches_distributed(
    spark, monkeypatch, tmp_path
):
    """The rfm quintile-cut driver pull (<=_RFM_DRIVER_MAX users) must
    produce the identical census as the unpivot + keyed discrete_pcts
    pass (forced via threshold 0) — on the fixture corpus and on a
    corpus with NULL-recency and NULL-money users, which the driver
    branch once crashed on (int(None)) while the distributed branch
    ranks NULLs first."""
    from dataengineering_spark.caching import release_tracked
    from dataengineering_spark.plans import queries_segments as qs

    for sf_dir in (SF, _null_metric_events(spark, tmp_path)):
        monkeypatch.setattr(qs, "_RFM_DRIVER_MAX", 100_000)
        gated = _rows(qs.q_rfm_segments(spark, sf_dir))
        release_tracked()
        spark.catalog.clearCache()
        monkeypatch.setattr(qs, "_RFM_DRIVER_MAX", 0)
        distributed = _rows(qs.q_rfm_segments(spark, sf_dir))
        release_tracked()
        spark.catalog.clearCache()
        assert gated == distributed and len(gated) > 0, sf_dir


def test_global_pct_gate_empty_frame(spark):
    """Empty input: both percentile paths return {name: None}."""
    from dataengineering_spark.operators.robust import global_discrete_pcts

    df = spark.createDataFrame([], "v long, uid long")
    for thr in (100_000, 0):
        got = global_discrete_pcts(
            df, "v", "uid", (0.5,), ("cut",), driver_threshold=thr
        )
        assert got == {"cut": None}


def test_rebuild_script_loads_old_map_from_script_invocation():
    """`python scripts/rebuild_driver_priority.py` runs with sys.path[0]
    = scripts/, where the package import of the committed map used to
    fail SILENTLY and bootstrap every stamp live (r14 laundering bug).
    load_old_map must see the committed stamps from a bare script-style
    process (cwd outside the repo, no conftest path help)."""
    import subprocess
    import sys

    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import runpy; m = runpy.run_path("
            "'/root/repo/scripts/rebuild_driver_priority.py',"
            " run_name='loaded'); "
            "ing, stamps = m['load_old_map'](); print(len(ing), len(stamps))",
        ],
        cwd="/",
        capture_output=True,
        text=True,
        check=True,
    )
    n_rounds, n_stamps = map(int, out.stdout.split())
    assert n_rounds >= 13 and n_stamps > 200, out.stdout
