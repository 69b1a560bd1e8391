"""The full stats-dict surface (reference: tests/test_stats.py)."""

from __future__ import annotations

import datetime as dt

import pytest

from piholelongtermstats_spark.operators.stats import compute_stats
from tests.conftest import make_fact

EXPECTED_KEYS = {
    # presence contract (test_stats.py:67-291)
    "n_data_points", "min_date", "max_date", "data_span_days", "data_span_str",
    "total_queries", "blocked_count", "allowed_count", "blocked_pct", "allowed_pct",
    "top_client", "top_allowed_client", "top_blocked_client",
    "top_allowed_domain", "top_allowed_domain_count", "top_allowed_domain_client",
    "top_blocked_domain", "top_blocked_domain_count", "top_blocked_domain_client",
    "most_persistent_client", "most_persistent_blocked_domain", "repeat_attempts",
    "date_most_queries", "date_least_queries", "date_most_blocked",
    "date_least_blocked", "date_most_allowed", "date_least_allowed",
    "most_active_hour", "least_active_hour", "avg_queries_most", "avg_queries_least",
    "most_active_day", "least_active_day", "most_active_day_avg", "least_active_day_avg",
    "day_total_queries", "day_top_client", "day_top_allowed_client",
    "day_top_blocked_client", "day_top_allowed_domain", "day_top_blocked_domain",
    "night_total_queries", "night_top_client", "night_top_allowed_client",
    "night_top_blocked_client", "night_top_allowed_domain", "night_top_blocked_domain",
    "unique_domains", "unique_clients", "most_diverse_client", "unique_domains_count",
    "avg_reply_time", "max_reply_time", "min_reply_time",
    "longest_streak_length_blocked", "longest_streak_length_allowed",
    "max_idle_ms", "avg_time_between_blocked", "avg_time_between_allowed",
    "before_gap", "after_gap",
}


def _mixed_rows():
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    rows = []
    for i in range(48):
        status = "Blocked" if i % 3 == 0 else "Allowed"
        client = f"c{i % 2}"
        domain = f"d{i % 4}"
        rows.append(
            (i, (t0 + dt.timedelta(minutes=30 * i)).isoformat(), client, domain,
             status, 0.1 * (i % 5))
        )
    return rows


def test_all_keys_present(spark):
    stats = compute_stats(make_fact(spark, _mixed_rows()))
    missing = EXPECTED_KEYS - set(stats)
    assert not missing, f"missing stats keys: {sorted(missing)}"


def test_values_consistent(spark):
    stats = compute_stats(make_fact(spark, _mixed_rows()))
    assert stats["total_queries"] == 48
    assert stats["blocked_count"] == 16
    assert stats["allowed_count"] == 32
    assert stats["blocked_pct"] + stats["allowed_pct"] == pytest.approx(100.0)
    assert stats["day_total_queries"] + stats["night_total_queries"] == 48
    assert 0 <= stats["most_active_hour"] <= 23
    assert stats["most_active_day"] in (
        "Monday Tuesday Wednesday Thursday Friday Saturday Sunday".split()
    )
    # 30-min cadence → max idle is 1800s
    assert stats["max_idle_ms"] == 1800000.0
    assert stats["unique_clients"] == 2
    assert stats["unique_domains"] == 4


def test_all_blocked_edge(spark):
    rows = [
        (i, f"2024-01-01T{i:02d}:00:00", "c", "d", "Blocked", 1.0) for i in range(10)
    ]
    stats = compute_stats(make_fact(spark, rows))
    assert stats["blocked_pct"] == 100.0
    assert stats["allowed_pct"] == 0.0
    assert stats["top_blocked_client"] == "c"
    assert stats["top_allowed_client"] == "N/A"
    assert stats["longest_streak_length_blocked"] == 10
    assert stats["longest_streak_length_allowed"] == 0
    assert stats["avg_time_between_allowed"] == 0.0
    assert stats["avg_time_between_blocked"] == 3600.0


def test_null_reply_times_edge(spark):
    rows = [
        (i, f"2024-01-01T{i:02d}:00:00", "c", "d", "Allowed", None) for i in range(5)
    ]
    stats = compute_stats(make_fact(spark, rows))
    assert stats["avg_reply_time"] == 0.0
    assert stats["max_reply_time"] == 0.0
    assert stats["min_reply_time"] == 0.0


def test_empty_fact_degrades_to_zeros(spark):
    """All-excluded / empty-window runs serve zeros and N/A, never
    crash (the reference refuses empty input upstream app.py:158-164;
    the engine's contract is graceful degradation)."""
    fact = make_fact(spark, _mixed_rows()).limit(0)
    s = compute_stats(fact)
    assert s["total_queries"] == 0
    assert s["blocked_count"] == 0 and s["allowed_count"] == 0
    assert s["blocked_pct"] == 0.0 and s["allowed_pct"] == 0.0
    assert s["day_total_queries"] == 0 and s["night_total_queries"] == 0
    assert s["min_date"] == "N/A"
    assert s["top_client"] == "N/A"


def test_stats_surface_collect_round_trips(spark, monkeypatch):
    """The whole ~60-scalar surface assembles in exactly one driver
    round-trip: one grouping-sets aggregate with the streak and gap
    kernels unioned into the same collect. Counted by instrumenting
    DataFrame.collect, which every family funnels through.

    Patches the CLASSIC DataFrame class: in PySpark 4 instances are
    pyspark.sql.classic.dataframe.DataFrame, which overrides collect —
    patching the pyspark.sql.DataFrame base intercepts nothing (this
    test counted 0 silently until r9 caught it)."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"n": 0}
    orig = DataFrame.collect

    def counting_collect(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    stats = compute_stats(make_fact(spark, _mixed_rows()))
    assert calls["n"] == 1, calls["n"]
    # the batching must not change a single value
    assert stats["total_queries"] == 48
    assert stats["unique_domains"] == 4
    assert stats["unique_clients"] == 2


def test_stats_surface_has_no_unpartitioned_fact_window(spark, monkeypatch):
    """r8 VERDICT #3: the stats serving surface — the one code path a
    real dashboard hits on every load — must never run an
    unpartitioned window over fact rows (the global-window
    longest_streaks variant is a verification reference only; serving
    uses the stitched kernel). Every frame compute_stats collects is
    plan-audited: any windowspecdefinition ordering raw (ts, event_id)
    must carry a partition column."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    orig = DataFrame.collect

    def auditing_collect(self):
        plans.append(
            self._jdf.queryExecution().optimizedPlan().toString()
        )
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", auditing_collect)
    compute_stats(make_fact(spark, _mixed_rows()))
    assert plans
    for plan in plans:
        bad = re.findall(r"Window \[[^\]]*windowspecdefinition\(ts#", plan)
        assert not bad, f"unpartitioned fact-table window found: {bad}"
