"""M44 — broken-trend fit and k-core peeling."""

from __future__ import annotations

import datetime as dt
import itertools

from piholelongtermstats_spark.operators import graph, timeagg
from tests.conftest import make_fact


def _day_rows(counts, start="2024-01-01"):
    t0 = dt.datetime.fromisoformat(f"{start}T10:00:00")
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for j in range(c):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(days=i, minutes=j)).isoformat(),
                 "c1", "d", "Allowed", 0.1)
            )
    return rows


def test_broken_trend_detects_slope_change(spark):
    """Flat-then-rising series: the argmax-|CUSUM| anchor lands where
    the cumulative deficit peaks (Jan 12 for this fixture); segment B
    is the pure +2/day regime (slope exactly 2, r² = 1)."""
    counts = [10] * 10 + [10 + 2 * i for i in range(1, 11)]
    fact = make_fact(spark, _day_rows(counts))
    r = timeagg.broken_trend_fit(fact).collect()[0]
    assert r.n_days == 20
    assert r.n_a + r.n_b == 20
    assert r.break_date == dt.datetime.fromisoformat("2024-01-12T00:00:00")
    assert (r.n_a, r.n_b) == (12, 8)
    assert r.slope_b == 2.0
    assert r.r2_b == 1.0
    assert abs(r.slope_a) < 1.0


def test_broken_trend_interior_break_on_monotone_series(spark):
    """P_n = 0 identically, so the anchor is interior even for a
    monotone series — both segments nonempty, NULLIF guards keep any
    degenerate (<2-day) segment NULL-safe."""
    counts = [5 + 3 * i for i in range(8)]
    fact = make_fact(spark, _day_rows(counts))
    r = timeagg.broken_trend_fit(fact).collect()[0]
    assert r.n_a + r.n_b == 8
    assert r.n_a >= 1 and r.n_b >= 1
    if r.n_b >= 2:
        assert r.slope_b == 3.0


def _graph_fact(spark, edges):
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    rows = [
        (i + 1, (t0 + dt.timedelta(minutes=i)).isoformat(), c, d,
         "Allowed", 0.1)
        for i, (c, d) in enumerate(edges)
    ]
    return make_fact(spark, rows)


def _brute_kcore(edges, k):
    """Synchronous peel (the k-core is unique, so any order gives the
    same core) → (core edges, rounds that removed something)."""
    es = set(edges)
    for rounds in itertools.count():
        from collections import Counter

        dc = Counter(c for c, _ in es)
        dd = Counter(d for _, d in es)
        bad = {("c", c) for c in dc if dc[c] < k} | {
            ("d", d) for d in dd if dd[d] < k
        }
        if not bad:
            return es, rounds
        es = {
            (c, d)
            for c, d in es
            if ("c", c) not in bad and ("d", d) not in bad
        }


def test_kcore_matches_bruteforce(spark):
    edges = [
        # a 2-core square: c1-d1, c1-d2, c2-d1, c2-d2
        ("c1", "d1"), ("c1", "d2"), ("c2", "d1"), ("c2", "d2"),
        # a pendant chain that must peel away entirely
        ("c3", "d2"), ("c3", "d3"), ("c4", "d3"),
    ]
    fact = _graph_fact(spark, edges)
    r = graph.kcore_decomposition(fact, 2).collect()[0]
    core, _ = _brute_kcore(edges, 2)
    assert r.n_edges_core == len(core) == 4
    assert r.n_clients_core == len({c for c, _ in core}) == 2
    assert r.n_domains_core == len({d for _, d in core}) == 2
    assert r.rounds >= 1


def test_kcore_empty_core(spark):
    """A star graph has no 2-core on the leaf side: everything
    peels."""
    edges = [("hub", f"d{i}") for i in range(5)]
    fact = _graph_fact(spark, edges)
    r = graph.kcore_decomposition(fact, 2).collect()[0]
    assert r.n_edges_core == 0


def test_kcore_invariant_under_disjoint_doubling(spark):
    edges = [
        ("c1", "d1"), ("c1", "d2"), ("c2", "d1"), ("c2", "d2"),
        ("c3", "d2"),
    ]
    doubled = edges + [(f"X{c}", f"X{d}") for c, d in edges]
    r1 = graph.kcore_decomposition(_graph_fact(spark, edges), 2).collect()[0]
    r2 = graph.kcore_decomposition(_graph_fact(spark, doubled), 2).collect()[0]
    assert r2.n_edges_core == 2 * r1.n_edges_core
    assert r2.n_clients_core == 2 * r1.n_clients_core
