"""Operator edge cases — the reference's exact-value tests rebuilt
(test_stats.py:293-467; FIXTURES.md §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import counts, sequential, timeagg, topk
from tests.conftest import make_fact


def _hourly(n, status, start="2024-01-01T00:00:00", client="c1", domain="d1", rt=1.0):
    import datetime as dt

    t0 = dt.datetime.fromisoformat(start)
    return [
        (i, (t0 + dt.timedelta(hours=i)).isoformat(), client, domain, status, rt)
        for i in range(n)
    ]


def test_all_blocked_pct_100(spark):
    """FIXTURES.md §3.1 (test_stats.py:345-368)."""
    fact = make_fact(spark, _hourly(100, "Blocked"))
    row = counts.status_counts(fact).collect()[0]
    assert row["total_queries"] == 100
    assert row["blocked_count"] == 100
    assert row["blocked_pct"] == 100.0
    assert row["allowed_count"] == 0
    assert row["allowed_pct"] == 0.0


def test_all_other_zero_counts(spark):
    """FIXTURES.md §3.3 (test_stats.py:395-418)."""
    fact = make_fact(spark, _hourly(10, "Other"))
    row = counts.status_counts(fact).collect()[0]
    assert row["blocked_count"] == 0 and row["allowed_count"] == 0
    assert row["blocked_pct"] == 0.0 and row["allowed_pct"] == 0.0


def test_empty_input(spark):
    """FIXTURES.md §3.7: zero rows must not crash; pcts → 0.0."""
    fact = make_fact(spark, []).limit(0)
    row = counts.status_counts(fact).collect()[0]
    assert row["total_queries"] == 0
    assert row["blocked_pct"] == 0.0


def test_single_row(spark):
    """FIXTURES.md §3.4: degenerate streaks/gaps (test_stats.py:320-343)."""
    fact = make_fact(spark, _hourly(1, "Allowed"))
    assert counts.status_counts(fact).collect()[0]["total_queries"] == 1
    streaks = sequential.longest_streaks(fact).collect()
    assert len(streaks) == 1
    assert streaks[0]["streak_len"] == 1
    assert sequential.idle_gaps_top(fact).count() == 0
    gaps = {r["status_type"]: r["avg_gap_sec"]
            for r in sequential.avg_gap_per_status(fact).collect()}
    assert gaps["Allowed"] is None and gaps["Blocked"] is None


def test_null_reply_times(spark):
    """FIXTURES.md §3.5: all-NULL reply times → NULL aggregates
    (mapped to 0.0 at the stats edge; test_stats.py:420-442)."""
    rows = [(i, f"2024-01-01T{i:02d}:00:00", "c", "d", "Allowed", None)
            for i in range(5)]
    fact = make_fact(spark, rows)
    row = timeagg.reply_time_stats(fact).collect()[0]
    assert row["avg_reply_ms"] is None
    assert row["max_reply_ms"] is None


def test_uniques_single(spark):
    """FIXTURES.md §3.6 (test_stats.py:444-467)."""
    rows = _hourly(25, "Allowed") + [
        (100 + i, f"2024-01-03T{i:02d}:00:00", "c1", "d1", "Blocked", 1.0)
        for i in range(24)
    ]
    fact = make_fact(spark, rows)
    row = counts.uniques(fact).collect()[0]
    assert row["unique_domains"] == 1
    assert row["unique_clients"] == 1


def test_topk_tie_break_pinned(spark):
    """FIXTURES.md §3.11: equal counts → key ASC wins."""
    rows = [
        (1, "2024-01-01T00:00:00", "cB", "d1", "Allowed", 1.0),
        (2, "2024-01-01T01:00:00", "cA", "d1", "Allowed", 1.0),
    ]
    fact = make_fact(spark, rows)
    top = topk.top_k_counts(fact, "client", 1).collect()
    assert top[0]["client"] == "cA"


def test_streak_pattern(spark):
    """FIXTURES.md §3.9: known run layout, incl. midnight-spanning run."""
    seq = (["Allowed"] * 3 + ["Blocked"] * 5 + ["Allowed"] * 2
           + ["Blocked"] * 2 + ["Other"] * 1)
    import datetime as dt

    # start late on Jan 1 so the 5-run crosses midnight
    t0 = dt.datetime.fromisoformat("2024-01-01T21:00:00")
    rows = [(i, (t0 + dt.timedelta(hours=i)).isoformat(), "c", "d", st, 1.0)
            for i, st in enumerate(seq)]
    fact = make_fact(spark, rows)
    got = {r["status_type"]: (r["streak_len"], r["start_ts"])
           for r in sequential.longest_streaks(fact).collect()}
    assert got["Blocked"][0] == 5
    assert got["Blocked"][1] == t0 + dt.timedelta(hours=3)
    assert got["Allowed"][0] == 3
    assert got["Other"][0] == 1


def test_idle_gap_known(spark):
    """FIXTURES.md §3.10: one large known gap, endpoints carried."""
    rows = [
        (1, "2024-01-01T00:00:00", "c", "d", "Allowed", 1.0),
        (2, "2024-01-01T00:10:00", "c", "d", "Allowed", 1.0),
        (3, "2024-01-02T05:10:00", "c", "d", "Allowed", 1.0),  # 29h gap, crosses midnight
        (4, "2024-01-02T05:15:00", "c", "d", "Allowed", 1.0),
    ]
    fact = make_fact(spark, rows)
    top = sequential.idle_gaps_top(fact, 1).collect()[0]
    assert top["gap_us"] == 29 * 3600 * 1_000_000
    import datetime as dt

    assert top["prev_ts"] == dt.datetime.fromisoformat("2024-01-01T00:10:00")
    assert top["next_ts"] == dt.datetime.fromisoformat("2024-01-02T05:10:00")


def test_gaps_cross_midnight_equal_global(spark):
    """The date-partitioned gap decomposition must equal a global-order
    lag exactly (operators/sequential.py design)."""
    import random

    import datetime as dt

    rng = random.Random(7)
    t = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    rows = []
    for i in range(300):
        t += dt.timedelta(minutes=rng.randint(1, 600))
        rows.append((i, t.isoformat(), "c", "d", "Allowed", 1.0))
    fact = make_fact(spark, rows)
    got = sequential.consecutive_gaps(fact).orderBy("next_ts").collect()
    ts_sorted = sorted(dt.datetime.fromisoformat(r[1]) for r in rows)
    want = [
        (a, b, int((b - a).total_seconds() * 1_000_000))
        for a, b in zip(ts_sorted, ts_sorted[1:])
    ]
    assert [(r["prev_ts"], r["next_ts"], r["gap_us"]) for r in got] == want


def test_day_night_single_pass(spark):
    rows = _hourly(24, "Allowed")  # hours 0..23 on one day
    fact = make_fact(spark, rows)
    got = {r["day_period"]: r["total_queries"]
           for r in counts.day_night_counts(fact).collect()}
    assert got == {"Day": 18, "Night": 6}


def test_hour_spine_zerofill_covers_gaps(spark):
    rows = [
        (1, "2024-01-01T00:30:00", "c", "d", "Allowed", 1.0),
        (2, "2024-01-01T03:30:00", "c", "d", "Blocked", 1.0),
    ]
    fact = make_fact(spark, rows)
    out = timeagg.hour_spine_zerofill(fact).collect()
    # 4 hourly buckets × 2 statuses
    assert len(out) == 8
    nonzero = {(r["hour_bucket"].hour, r["status_type"]): r["cnt"]
               for r in out if r["cnt"] > 0}
    assert nonzero == {(0, "Allowed"): 1, (3, "Blocked"): 1}


def _streak_rows(statuses, start="2024-01-01T21:00:00", step_hours=1):
    import datetime as dt

    t0 = dt.datetime.fromisoformat(start)
    return [
        (i, (t0 + dt.timedelta(hours=i * step_hours)).isoformat(), "c", "d", st, 1.0)
        for i, st in enumerate(statuses)
    ]


def _assert_stitched_matches(spark, rows):
    fact = make_fact(spark, rows)
    ref = sorted(map(tuple, sequential.longest_streaks(fact).collect()))
    got = sorted(map(tuple, sequential.longest_streaks_stitched(fact).collect()))
    assert got == ref


def test_stitched_equals_global_midnight_chain(spark):
    """A Blocked run crossing one midnight must stitch to its full length."""
    _assert_stitched_matches(
        spark,
        _streak_rows(["Allowed"] * 2 + ["Blocked"] * 6 + ["Allowed"] * 3),
    )


def test_stitched_equals_global_multiday_passthrough(spark):
    """Whole-day single-status dates chain through: a 50h Blocked run
    spans three calendar dates via two midnight merges."""
    _assert_stitched_matches(
        spark,
        _streak_rows(["Allowed"] * 2 + ["Blocked"] * 50 + ["Allowed"] * 2),
    )


def test_stitched_no_false_merge_same_date_same_status(spark):
    """n_runs ≥ 3 with first/last runs sharing a status (B A B within
    one date) must NOT merge the pseudo-adjacent boundary runs."""
    _assert_stitched_matches(
        spark,
        _streak_rows(
            ["Blocked"] * 2 + ["Allowed"] * 1 + ["Blocked"] * 2,
            start="2024-01-01T02:00:00",
        ),
    )


def test_stitched_equals_global_on_testdata(spark):
    """Differential check on the driver's sf0.001 events table."""
    from piholelongtermstats_spark.sources.events import dns_fact

    fact = dns_fact(spark, "/root/testdata/sf0.001")
    ref = sorted(map(tuple, sequential.longest_streaks(fact).collect()))
    got = sorted(map(tuple, sequential.longest_streaks_stitched(fact).collect()))
    assert got == ref


def test_stitched_equals_global_randomized(spark):
    """Seeded-random differential: irregular timestamps (bursts, ties,
    multi-day dead air) across status patterns must agree with the
    global-order reference. Catches boundary cases hand-written
    fixtures miss."""
    import datetime as dt
    import random

    rng = random.Random(20240813)
    statuses = ["Allowed", "Blocked", "Other"]
    # after the five Jan-1 starts: late December (month prefix sums
    # across a year) and late in a month (runs across month ends)
    starts = [(2024, 1, 1)] * 5 + [
        (2023, 12, 27), (2024, 12, 30), (2024, 1, 29), (2024, 2, 28),
    ]
    for trial, (y, m, d) in enumerate(starts):
        t = dt.datetime(y, m, d, rng.randrange(24), 0, 0)
        rows = []
        for i in range(rng.randrange(30, 120)):
            # mix of sub-minute bursts, hour steps, and >1-day gaps;
            # occasional zero step ⇒ timestamp ties broken by event_id
            step = rng.choice([0, 7, 60, 3600, 3600, 90000])
            t = t + dt.timedelta(seconds=step)
            st = rng.choice(statuses)
            rows.append((i, t.isoformat(), "c", "d", st, 1.0))
        fact = make_fact(spark, rows)
        ref = sorted(map(tuple, sequential.longest_streaks(fact).collect()))
        got = sorted(
            map(tuple, sequential.longest_streaks_stitched(fact).collect())
        )
        assert got == ref, f"trial {trial} diverged"


def test_avg_gap_single_pass_matches_filtered(spark):
    """One-aggregate telescoped gaps == per-status filtered computation."""
    import datetime as dt
    import random

    rng = random.Random(7)
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(200):
        t = t + dt.timedelta(seconds=rng.choice([30, 3600, 90000]))
        rows.append(
            (i, t.isoformat(), "c", "d", rng.choice(["Allowed", "Blocked"]), 1.0)
        )
    fact = make_fact(spark, rows)
    got = {r["status_type"]: r["avg_gap_sec"]
           for r in sequential.avg_gap_per_status(fact).collect()}
    for st in ("Blocked", "Allowed"):
        gaps = sequential.consecutive_gaps(
            fact.filter(F.col("status_type") == st)
        ).agg(
            F.round(
                F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("a")
        ).collect()[0]["a"]
        assert got[st] == gaps


def test_avg_gap_ties_and_two_event_status(spark):
    """Tied timestamps and a status with exactly 2 events (one gap,
    across midnight): the telescoped average equals the per-status
    filtered consecutive_gaps mean."""
    rows = [
        (1, "2024-01-01T10:00:00", "c", "d", "Allowed", 1.0),
        (2, "2024-01-01T10:00:00", "c", "d", "Allowed", 1.0),
        (3, "2024-01-01T10:00:00", "c", "d", "Blocked", 1.0),
        (4, "2024-01-01T23:59:59", "c", "d", "Allowed", 1.0),
        (5, "2024-01-02T00:00:30", "c", "d", "Blocked", 1.0),
        (6, "2024-01-02T00:00:30", "c", "d", "Allowed", 1.0),
        (7, "2024-01-02T00:00:30", "c", "d", "Other", 1.0),
        (8, "2024-01-03T07:00:01", "c", "d", "Allowed", 1.0),
    ]
    fact = make_fact(spark, rows)
    got = {r["status_type"]: r["avg_gap_sec"]
           for r in sequential.avg_gap_per_status(fact).collect()}
    for st in ("Blocked", "Allowed"):
        want = sequential.consecutive_gaps(
            fact.filter(F.col("status_type") == st)
        ).agg(
            F.round(
                F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
            ).alias("a")
        ).collect()[0]["a"]
        assert got[st] == want
    assert got["Blocked"] == 50430.0


def test_sequential_kernels_build_without_jobs(spark):
    """Building the stats-path streak and gap kernels is lazy: no Spark
    job starts until the plan is collected."""
    from piholelongtermstats_spark.sources.events import dns_fact

    fact = dns_fact(spark, "/root/testdata/sf0.001")
    sc = spark.sparkContext
    group = "sequential-kernel-build"
    sc.setJobGroup(group, "build the sequential kernels")
    try:
        sequential.longest_streaks_stitched(fact)
        sequential.idle_gaps_top(fact, 1)
        sequential.avg_gap_per_status(fact)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_approx_uniques_error_bound(spark):
    """HLL at the default rsd (0.016, the L1-resident p=13 sketch)
    lands within 5% of exact on testdata."""
    from piholelongtermstats_spark.operators import approx, counts
    from piholelongtermstats_spark.sources.events import dns_fact

    fact = dns_fact(spark, "/root/testdata/sf0.01")
    exact = counts.uniques(fact).collect()[0]
    est = approx.uniques_approx(fact).collect()[0]
    for e, a in (
        (exact["unique_domains"], est["unique_domains_approx"]),
        (exact["unique_clients"], est["unique_clients_approx"]),
    ):
        assert abs(a - e) <= max(1, 0.05 * e), (e, a)


def test_approx_quantiles_vs_exact(spark):
    """GK sketch at accuracy=10000 matches the exact sorted quantile
    closely on |reply_time|."""
    from piholelongtermstats_spark.operators import approx
    from piholelongtermstats_spark.sources.events import dns_fact

    fact = dns_fact(spark, "/root/testdata/sf0.01")
    got = approx.reply_time_quantiles(fact).collect()[0]
    vals = sorted(
        abs(r["reply_time"]) * 1000
        for r in fact.select("reply_time").collect()
        if r["reply_time"] is not None
    )
    for col, q in (("p50_ms", 0.5), ("p90_ms", 0.9), ("p99_ms", 0.99)):
        exact = vals[int(q * (len(vals) - 1))]
        assert got[col] == pytest.approx(exact, rel=0.05), (col, got[col], exact)


def test_asof_join_semantics(spark):
    """As-of join: boundary equality matches, gaps carry across
    multiple days, no-prior-right rows get NULL."""
    import datetime as dt

    from piholelongtermstats_spark.operators.asof import asof_join

    T = lambda s: dt.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, "k1", T("2024-01-01T05:00:00")),   # before any right -> NULL
            (2, "k1", T("2024-01-01T10:00:00")),   # == right ts -> matches (at-or-before)
            (3, "k1", T("2024-01-04T09:00:00")),   # 3-day gap -> carries v=10
            (4, "k1", T("2024-01-04T23:00:00")),   # after second right -> v=20
            (5, "k2", T("2024-01-02T00:00:00")),   # other key -> own stream
        ],
        "event_id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("k1", T("2024-01-01T10:00:00"), 10),
            ("k1", T("2024-01-04T12:00:00"), 20),
            ("k2", T("2024-01-01T00:00:00"), 99),
        ],
        "k string, rts timestamp, v int",
    )
    got = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, "k", "ts", "rts", ["v"]).collect()
    }
    assert got == {1: None, 2: 10, 3: 10, 4: 20, 5: 99}


def test_asof_join_randomized_vs_bruteforce(spark):
    """Seeded-random differential: asof_join == argmax-per-row brute
    force (crossJoin + filter + max_by) across keys, multi-day gaps,
    ties, and empty-prefix rows."""
    import datetime as dt
    import random

    from piholelongtermstats_spark.operators.asof import asof_join

    rng = random.Random(424242)
    t0 = dt.datetime(2024, 1, 1)
    lrows, rrows = [], []
    for i in range(120):
        lrows.append(
            (i, f"k{rng.randrange(3)}",
             t0 + dt.timedelta(minutes=rng.randrange(0, 6 * 24 * 60)))
        )
    seen = set()
    for j in range(40):
        k = f"k{rng.randrange(3)}"
        ts = t0 + dt.timedelta(minutes=rng.randrange(0, 6 * 24 * 60))
        if (k, ts) in seen:  # right (key, ts) must be unique
            continue
        seen.add((k, ts))
        rrows.append((k, ts, j))
    left = spark.createDataFrame(lrows, "event_id long, k string, ts timestamp")
    right = spark.createDataFrame(rrows, "k string, rts timestamp, v int")

    got = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, "k", "ts", "rts", ["v"]).collect()
    }
    brute = (
        left.join(right, "k", "left")
        .filter(F.col("rts") <= F.col("ts"))
        .groupBy("event_id")
        .agg(F.max_by("v", "rts").alias("v"))
    )
    want = {r["event_id"]: r["v"] for r in brute.collect()}
    for (eid, _, _) in lrows:
        want.setdefault(eid, None)
    assert got == want


def test_range_join_binned_vs_theta(spark):
    """Binned equi-join plan == the naive theta join, including
    intervals spanning many bins and events on exact bounds."""
    import datetime as dt

    from piholelongtermstats_spark.operators.rangejoin import range_join_binned

    T = lambda s: dt.datetime.fromisoformat(s)
    events = spark.createDataFrame(
        [(i, T("2024-01-01T00:00:00") + dt.timedelta(minutes=37 * i))
         for i in range(200)],
        "event_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, T("2024-01-01T01:00:00"), T("2024-01-01T05:00:00")),
            (2, T("2024-01-02T00:00:00"), T("2024-01-04T12:30:00")),
            (3, T("2024-01-01T04:59:00"), T("2024-01-01T06:00:00")),  # overlap
        ],
        "iv_id long, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r["event_id"], r["iv_id"])
        for r in range_join_binned(events, intervals).collect()
    )
    want = sorted(
        (r["event_id"], r["iv_id"])
        for r in events.join(
            intervals,
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") <= F.col("end_ts")),
        ).collect()
    )
    assert got == want and len(got) > 0


def test_kanon_suppresses_small_groups(spark):
    from piholelongtermstats_spark.operators.counts import kanon_domain_daily

    rows = [("d1", "2024-01-01")] * 6 + [("d2", "2024-01-01")] * 2 + [
        ("d1", "2024-01-02")
    ] * 5
    fact = spark.createDataFrame(rows, "domain string, d string").selectExpr(
        "domain", "CAST(d AS TIMESTAMP) AS date"
    )
    out = kanon_domain_daily(fact, k=5).collect()
    released = {(r.domain, r.date.day, r.cnt) for r in out}
    assert released == {("d1", 1, 6), ("d1", 2, 5)}
    # every released row carries the audit of what was withheld
    assert all(r.suppressed_groups == 1 and r.suppressed_rows == 2 for r in out)
