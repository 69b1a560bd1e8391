"""compute_stats over the sf0.001 and sf0.01 facts against the
registered DuckDB oracles (plans/registry.ORACLE) of the queries that
compute the same values — an independent reference for every stats
family, tie-breaks included (ORDER BY cnt DESC, key ASC; earliest date
or hour first). Each test checks every scale in turn."""

from __future__ import annotations

import os

import duckdb
import pytest

from piholelongtermstats_spark.operators.stats import compute_stats
from piholelongtermstats_spark.plans.registry import ORACLE
from piholelongtermstats_spark.sources.events import dns_fact
from tests.test_oracle_parity import SF_DIR

SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
SCALES = [d for d in dict.fromkeys([SF_DIR, SF01_DIR]) if os.path.isdir(d)]

pytestmark = pytest.mark.skipif(not SCALES, reason="testdata not present")


def _oracle(sf_dir: str):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")

    def rows(name: str) -> list[dict]:
        rel = con.sql(ORACLE[name])
        return [dict(zip(rel.columns, r)) for r in rel.fetchall()]

    return rows


@pytest.fixture(scope="module")
def scales(spark):
    """(compute_stats dict, oracle rows) per scale."""
    facts = [dns_fact(spark, d).persist() for d in SCALES]
    try:
        yield [(compute_stats(f), _oracle(d)) for f, d in zip(facts, SCALES)]
    finally:
        for f in facts:
            f.unpersist()


def _by_status(rows: list[dict]) -> dict[str, dict]:
    return {r["status_type"]: r for r in rows}


def test_status_counts_and_uniques(scales):
    for stats, oracle in scales:
        (c,) = oracle("status_counts")
        assert stats["total_queries"] == stats["n_data_points"] == c["total_queries"]
        assert stats["blocked_count"] == c["blocked_count"]
        assert stats["allowed_count"] == c["allowed_count"]
        # the oracle rounds to 4 digits, the dict to 2
        assert stats["blocked_pct"] == pytest.approx(c["blocked_pct"], abs=0.005)
        assert stats["allowed_pct"] == pytest.approx(c["allowed_pct"], abs=0.005)
        (u,) = oracle("uniques")
        assert stats["unique_domains"] == u["unique_domains"]
        assert stats["unique_clients"] == u["unique_clients"]


def test_top_clients_and_domains(scales):
    for stats, oracle in scales:
        tops = _by_status(oracle("top_clients_per_status"))
        doms = _by_status(oracle("top_domain_top_client"))
        for status in ("Allowed", "Blocked"):
            key = status.lower()
            assert stats[f"top_{key}_client"] == tops[status]["client"]
            assert stats[f"top_{key}_domain"] == doms[status]["domain"]
            assert stats[f"top_{key}_domain_count"] == doms[status]["domain_cnt"]
            assert stats[f"top_{key}_domain_client"] == doms[status]["top_client"]


def test_persistent_and_diverse_client(scales):
    for stats, oracle in scales:
        (p,) = oracle("most_persistent_client")
        assert stats["most_persistent_client"] == p["client"]
        assert stats["most_persistent_blocked_domain"] == p["domain"]
        assert stats["repeat_attempts"] == p["repeat_attempts"]
        (d,) = oracle("most_diverse_client")
        assert stats["most_diverse_client"] == d["client"]
        assert stats["unique_domains_count"] == d["unique_domains_count"]


def test_daily_and_hourly_extremes(scales):
    for stats, oracle in scales:
        days = oracle("daily_counts")
        for metric, col in (("queries", "total_cnt"), ("blocked", "blocked_cnt"),
                            ("allowed", "allowed_cnt")):
            for end, pick in (("most", max), ("least", min)):
                cnt = pick(r[col] for r in days)
                first = min(r["date"] for r in days if r[col] == cnt)
                assert stats[f"count_{end}_{metric}"] == cnt
                assert stats[f"date_{end}_{metric}"] == first.strftime("%d %B %Y")
        hours = oracle("hourly_histogram")
        for end, pick in (("most", max), ("least", min)):
            cnt = pick(r["cnt"] for r in hours)
            assert stats[f"avg_queries_{end}"] == cnt
            assert stats[f"{end}_active_hour"] == min(r["hour"] for r in hours if r["cnt"] == cnt)


def test_gaps_and_streaks(scales):
    for stats, oracle in scales:
        gap = oracle("idle_gaps_top")[0]
        assert stats["max_idle_ms"] == round(gap["gap_us"] / 1000.0, 3)
        assert stats["before_gap"] == gap["prev_ts"].strftime("%d-%b %Y %H:%M:%S.%f")[:-4]
        assert stats["after_gap"] == gap["next_ts"].strftime("%d-%b %Y %H:%M:%S.%f")[:-4]
        avg = _by_status(oracle("avg_gap_per_status"))
        streaks = _by_status(oracle("longest_streaks"))
        for status in ("Allowed", "Blocked"):
            key = status.lower()
            assert stats[f"avg_time_between_{key}"] == round(avg[status]["avg_gap_sec"], 2)
            s = streaks[status]
            assert stats[f"longest_streak_length_{key}"] == s["streak_len"]
            assert stats[f"longest_streak_date_{key}"] == s["start_ts"].strftime("%d %B %Y")
            assert stats[f"longest_streak_hour_{key}"] == s["start_ts"].strftime("%H:%M")
