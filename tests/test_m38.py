"""M38 — behavioral anomaly / series diagnostics / semdedup eval:
property and edge tests beyond the DuckDB oracles."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import behavior, robust, semdedup, stattests
from tests.conftest import make_fact


def _day_rows(counts, start="2024-01-01", client="c1", status="Allowed"):
    """counts[i] events on day i (hour spread to stay in 'Day')."""
    t0 = dt.datetime.fromisoformat(f"{start}T10:00:00")
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for j in range(c):
            eid += 1
            rows.append(
                (
                    eid,
                    (t0 + dt.timedelta(days=i, minutes=j)).isoformat(),
                    client,
                    "d",
                    status,
                    0.1,
                )
            )
    return rows


# --- rolling_range_bands ---------------------------------------------------


def test_range_bands_diverge_from_rows_on_gapped_series(spark):
    """The whole point of the RANGE variant: after a 10-day outage the
    calendar window must NOT stretch across the gap (win_n resets),
    while the ROWS variant silently includes pre-gap days."""
    counts = [5, 5, 5, 5, 5, 5, 5] + [0] * 10 + [7, 7]
    fact = make_fact(spark, _day_rows(counts))
    rng = {
        r.date: (r.win_n, r.win_sum)
        for r in robust.rolling_range_bands(fact, 7).collect()
    }
    rows = {
        r.date: (r.win_n, r.win_sum)
        for r in robust.rolling_bands_daily(fact, 7).collect()
    }
    d_post = dt.datetime.fromisoformat("2024-01-18T00:00:00")
    # calendar window: the post-gap day sees only itself
    assert rng[d_post] == (1, 7)
    # row window: stretches across the gap, pulling 6 pre-gap days
    assert rows[d_post] == (7, 37)
    # on the gapless head the two agree
    d_head = dt.datetime.fromisoformat("2024-01-05T00:00:00")
    assert rng[d_head] == rows[d_head]


# --- runs test --------------------------------------------------------------


def test_runs_test_alternating_vs_streaky(spark):
    """A strictly alternating high/low series maximizes runs (z > 0);
    a block-sorted series minimizes them (z < 0); counts exact."""
    alt = make_fact(spark, _day_rows([3, 9] * 8))
    ra = stattests.runs_test_daily(alt).collect()[0]
    assert (ra.n_above, ra.n_below, ra.n_runs) == (8, 8, 16)
    assert ra.z > 3.0
    streaky = make_fact(spark, _day_rows([3] * 8 + [9] * 8))
    rs = stattests.runs_test_daily(streaky).collect()[0]
    assert (rs.n_above, rs.n_below, rs.n_runs) == (8, 8, 2)
    assert rs.z < -3.0


def test_runs_test_drops_median_ties(spark):
    # 5 low, 5 at-median... with doubled-median convention: counts
    # [2,2,4,6,6]: med2 = 8 -> day with y=4 has 2y=8 == med2, dropped
    fact = make_fact(spark, _day_rows([2, 2, 4, 6, 6]))
    r = stattests.runs_test_daily(fact).collect()[0]
    assert (r.n_above, r.n_below) == (2, 2)
    assert r.n_runs == 2


# --- ccf ---------------------------------------------------------------------


def test_ccf_detects_lagged_dependence(spark):
    """Allowed copies Blocked shifted by +2 days: the lag (+2) row
    must carry the maximum rho, and rho(+2) ≈ 1."""
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    blocked = [3, 9, 2, 8, 1, 7, 4, 6, 2, 9, 3, 8, 2, 7]
    rows, eid = [], 0
    for i, c in enumerate(blocked):
        for j in range(c):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(days=i, minutes=j)).isoformat(),
                 "c1", "d", "Blocked", 0.1)
            )
        # allowed at day i = blocked at day i-2 (constant head)
        a = blocked[i - 2] if i >= 2 else 5
        for j in range(a):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(days=i, minutes=200 + j)).isoformat(),
                 "c1", "d", "Allowed", 0.1)
            )
    fact = make_fact(spark, rows)
    got = {r.lag_k: r.rho for r in stattests.ccf_status_daily(fact).collect()}
    best = max(got, key=lambda k: (got[k] if got[k] is not None else -2))
    assert best == 2, got
    assert got[2] > 0.9


# --- behavior ----------------------------------------------------------------


def test_profile_distance_flags_single_hour_client(spark):
    """A client hitting ONE hour scores far above a client mirroring
    the fleet's spread; distances are exact ppm in [0, 1e6]."""
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    rows, eid = [], 0
    # the spread client dominates the fleet (10/hour), so the fleet
    # profile ≈ its own profile; the cron client is a small outlier
    for h in range(24):
        for _ in range(10):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(hours=h, minutes=eid % 50)).isoformat(),
                 "spread", "d", "Allowed", 0.1)
            )
    for _ in range(24):  # cron client: everything at 03:00
        eid += 1
        rows.append(
            (eid, (t0 + dt.timedelta(hours=3, minutes=eid % 50)).isoformat(),
             "cron", "d", "Allowed", 0.1)
        )
    fact = make_fact(spark, rows)
    got = {
        r.client: r.dist_ppm
        for r in behavior.client_profile_distance(fact, 10).collect()
    }
    # exact: cron L1 = 2·(1 − 34/264) → ppm = 871212; spread = 87121
    assert got["cron"] == 871212
    assert got["spread"] == 87121
    assert got["spread"] < got["cron"]
    assert 0 <= got["spread"] <= 1000000


def test_shrunk_rates_demote_small_n(spark):
    """2/2-blocked must rank BELOW 90/100-blocked after shrinkage
    (raw rates order them the other way) — the estimator's point."""
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    rows, eid = [], 0

    def add(client, blocked, total):
        nonlocal eid
        for i in range(total):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(minutes=eid)).isoformat(), client,
                 "d", "Blocked" if i < blocked else "Allowed", 0.1)
            )

    add("tiny", 2, 2)        # raw 100%
    add("heavy", 90, 100)    # raw 90%
    add("quiet", 10, 400)    # fleet ballast
    fact = make_fact(spark, rows)
    got = behavior.shrunk_block_rates(fact, 100, 10).collect()
    order = [r.client for r in got]
    raw = {r.client: r.raw_ppm for r in got}
    shr = {r.client: r.shrunk_ppm for r in got}
    assert raw["tiny"] > raw["heavy"]          # raw ranking is wrong
    assert shr["heavy"] > shr["tiny"]          # shrinkage fixes it
    assert order[0] == "heavy"


# --- semdedup margins ---------------------------------------------------------


def test_cell_margins_ppm_grid_clearance(spark):
    """The fp-determinism contract for the new ppm quantization: every
    raw cosine score must clear the nearest 1e-6 rounding midpoint by
    ≫ the cross-engine accumulation-order error (~1e-15), so
    round(cos·1e6) is engine-identical (test_fp_determinism
    convention — a measured number, not an argument)."""
    import numpy as np

    from piholelongtermstats_spark.operators import ivf
    from piholelongtermstats_spark.sources.parquet import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    C = np.asarray(cents)
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    V = np.stack([r.embedding for r in emb.select("embedding").collect()])
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = (V @ C.T).ravel()
    frac = np.abs(S * 1e6 - np.floor(S * 1e6) - 0.5)
    clearance = frac.min() * 1e-6
    # measured 1.4e-11 at sf0.001 (8e3 scores) — 4 orders above the
    # error band. Min clearance scales ~ 5e-7/n_scores, so the
    # driver-gate scale (sf0.01, 8e4 scores) still clears by ~3.5
    # orders; at ~1e12 scores the ppm grid would saturate and this
    # audit would need the pair-cosine treatment (coarser grid or
    # decision-only hashing) — the embedding_near_dup caveat applies.
    assert clearance > 1e-12, clearance  # ≫ 1e-15 accumulation error


def test_cell_margins_nonnegative_and_complete(spark):
    from piholelongtermstats_spark.plans.registry import _emb
    from piholelongtermstats_spark.plans.retrieval import _SEM_CENTS

    got = semdedup.semdedup_cell_margins(
        _emb(spark, "/root/testdata/sf0.001"), _SEM_CENTS
    ).collect()
    assert sum(r.n_members for r in got) == 500
    assert all(r.min_margin_ppm >= 0 for r in got)
    assert all(r.sum_margin_ppm >= r.min_margin_ppm for r in got)


# --- M42 additions (same test family) ---------------------------------------


def test_stl_components_reconstruct(spark):
    """decomposition identity on the n-cleared scale:
    y·win_n·wd_cnt = trend-part + seasonal-part + remainder —
    i.e. det7·s_cnt = wd_det_sum + remain7_scaled, exactly."""
    fact = make_fact(spark, _day_rows([5, 9, 3, 8, 6, 7, 4] * 4))
    rows = robust.stl_lite_daily(fact).collect()
    assert len(rows) == 28
    for r in rows:
        assert r.det7 * r.wd_cnt == r.wd_det_sum + r.remain7_scaled
        assert r.det7 == r.win_n * r.y - r.win_sum


def test_stl_pure_weekly_pattern_has_zero_remainder_interior(spark):
    """A perfectly periodic series: interior days (full 7-day centered
    windows) decompose with ZERO remainder — trend flat, seasonal
    carries everything."""
    fact = make_fact(spark, _day_rows([5, 9, 3, 8, 6, 7, 4] * 4))
    rows = robust.stl_lite_daily(fact).collect()
    # interior det7 of a periodic series is constant per weekday, so
    # the remainder is EXACTLY 0 for every weekday whose members are
    # all interior (partial head/tail windows pollute the others)
    by_wd = {}
    for r in rows:
        by_wd.setdefault(r.date.weekday(), []).append(r)
    checked = 0
    for members in by_wd.values():
        if all(m.win_n == 7 for m in members):
            assert all(m.remain7_scaled == 0 for m in members)
            checked += 1
    assert checked >= 1  # the fixture has at least one such weekday


def test_share_movers_detects_surge(spark):
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    rows, eid = [], 0
    for day in range(10):
        for j in range(10):  # steady domain
            eid += 1
            rows.append((eid, (t0 + dt.timedelta(days=day, minutes=j)).isoformat(),
                         "c", "steady.com", "Allowed", 0.1))
        surge = 20 if day >= 5 else 0  # surges in the second half
        for j in range(surge):
            eid += 1
            rows.append((eid, (t0 + dt.timedelta(days=day, minutes=60 + j)).isoformat(),
                         "c", "surge.com", "Allowed", 0.1))
    fact = make_fact(spark, rows)
    got = behavior.domain_share_movers(fact, 5).collect()
    # mid = d0 + 4 days: halves are days 0-3 (N=40) and 4-9 (N=160);
    # surge gains 0 -> 100/160, steady loses 40/40 -> 60/160 — equal
    # |delta| 625000, tie broken by domain name
    assert [got[0].domain, got[1].domain] == ["steady.com", "surge.com"]
    surge = next(r for r in got if r.domain == "surge.com")
    assert surge.cnt_a == 0 and surge.cnt_b == 100
    assert surge.share_a_ppm == 0
    assert surge.delta_ppm == surge.share_b_ppm == 625000
    steady = next(r for r in got if r.domain == "steady.com")
    assert steady.delta_ppm == -625000


def test_quantile_sketch_within_bound(spark):
    from piholelongtermstats_spark.plans.registry import _fact

    got = stattests.quantile_sketch_eval(
        _fact(spark, "/root/testdata/sf0.001")
    ).collect()
    assert len(got) == 3
    assert all(r.within_bound == 1 for r in got)
    assert all(r.bound >= 1 for r in got)
