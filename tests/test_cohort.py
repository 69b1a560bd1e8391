"""Cohort retention + funnel (operators/cohort.py): constructed-case
semantics — strict stage ordering, cohort age math, ma7 edges."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import cohort
from tests.conftest import make_fact


def test_retention_ages(spark):
    t = "2024-01-{:02d}T12:00:00"
    rows = [
        (1, t.format(1), "c1", "d", "Allowed", 0.1),   # c1 cohort 01-01
        (2, t.format(3), "c1", "d", "Allowed", 0.1),   # age 2
        (3, t.format(3), "c1", "d", "Blocked", 0.1),   # same day — distinct
        (4, t.format(2), "c2", "d", "Allowed", 0.1),   # c2 cohort 01-02
        (5, t.format(3), "c2", "d", "Allowed", 0.1),   # age 1
    ]
    out = {
        (r.cohort_date.date().isoformat(), r.age_days): r.n_clients
        for r in cohort.client_retention(make_fact(spark, rows)).collect()
    }
    assert out == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
        ("2024-01-02", 1): 1,
    }


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, e, dt.datetime.fromisoformat(ts)) for (u, e, ts) in rows],
        "user_id long, event_type string, ts timestamp",
    )


def test_funnel_strict_ordering(spark):
    T = "2024-01-01T10:{:02d}:00"
    rows = [
        # u1: full ordered funnel
        (1, "view", T.format(0)), (1, "click", T.format(1)), (1, "purchase", T.format(2)),
        # u2: click BEFORE view → click doesn't count, purchase after view
        # but with no qualifying click → neither converts
        (2, "click", T.format(0)), (2, "view", T.format(1)), (2, "purchase", T.format(2)),
        # u3: view then purchase, no click → stage 2 and 3 not reached
        (3, "view", T.format(0)), (3, "purchase", T.format(1)),
        # u4: never views
        (4, "click", T.format(0)),
        # u5: view, click, but purchase BEFORE the click → not counted
        (5, "view", T.format(0)), (5, "purchase", T.format(1)), (5, "click", T.format(2)),
    ]
    r = cohort.funnel_counts(_ev(spark, rows)).first()
    assert r.n_clients == 5
    assert r.n_view == 4              # u1, u2, u3, u5
    assert r.n_click_after_view == 2  # u1, u5
    assert r.n_purchase_after_click == 1  # u1 only


def test_funnel_empty(spark):
    r = cohort.funnel_counts(_ev(spark, [])).first()
    assert tuple(r) == (0, 0, 0, 0)


def test_m11_plan_shapes(spark):
    """Plan guards, house style: retention has NO window (join-back +
    distinct count only); rollup_delta's two legs both push their ts
    range bounds to the parquet scan."""
    import __spark_entry__ as se

    # sf0.001, NOT sf0.01: registry accessors persist the shared fact
    # (plans/cache.py), and Spark's CacheManager then substitutes the
    # cached plan into ANY later matching subtree — caching the sf0.01
    # fact here would break test_plan_properties' uncached-scan
    # assertions, which run later in alphabetical order.
    SF = "/root/testdata/sf0.001"

    def plan(name):
        df = se.queries()[name](spark, SF)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    p = plan("client_retention")
    assert "Window" not in p, p
    p2 = plan("rollup_delta")
    assert p2.count("PushedFilters: [IsNotNull(ts)") >= 2 or p2.count(
        "GreaterThanOrEqual(ts"
    ) + p2.count("LessThan(ts") >= 2, p2


def test_rolling_active_clients_constructed(spark):
    """Hand-checked rolling distinct: client overlap across the
    window must not double-count, and only observed dates report."""
    from piholelongtermstats_spark.operators.cohort import rolling_active_clients

    rows = [
        # (date, client): c1 active d1 and d3; c2 active d1; c3 d10
        ("2024-01-01", "c1"), ("2024-01-01", "c2"),
        ("2024-01-03", "c1"),
        ("2024-01-10", "c3"),
    ]
    fact = spark.createDataFrame(rows, "d string, client string").selectExpr(
        "CAST(d AS TIMESTAMP) AS date", "client"
    )
    got = {r.date.strftime("%m-%d"): r.active_7d
           for r in rolling_active_clients(fact).collect()}
    # 01-01: {c1,c2}=2; 01-03: window [12-28..01-03] → {c1,c2}=2;
    # 01-10: window [01-04..01-10] → {c3}=1 (c1's 01-03 is outside)
    assert got == {"01-01": 2, "01-03": 2, "01-10": 1}


def test_rolling_active_approx_within_hll_error(spark):
    """Sketch-merge rolling actives vs the exact operator: every date
    within the HLL error band (lg_k=12 → rse ~1.6%; assert 5% with
    headroom at small counts)."""
    from piholelongtermstats_spark.operators.cohort import (
        rolling_active_clients,
        rolling_active_clients_approx,
    )
    from piholelongtermstats_spark.sources.events import dns_fact

    fact = dns_fact(spark, "/root/testdata/sf0.01")
    exact = {r.date: r.active_7d for r in rolling_active_clients(fact).collect()}
    approx = {
        r.date: r.active_7d_approx
        for r in rolling_active_clients_approx(fact).collect()
    }
    assert set(exact) == set(approx)
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(0.05 * n, 2), (d, n, approx[d])
