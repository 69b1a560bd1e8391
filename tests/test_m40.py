"""M40 — conformal interval, hapax stats, behavioral doubling proof."""

from __future__ import annotations

import datetime as dt

from piholelongtermstats_spark.operators import behavior, robust, text
from tests.conftest import make_fact


def _day_rows(counts, start="2024-01-01", client="c1"):
    t0 = dt.datetime.fromisoformat(f"{start}T10:00:00")
    rows, eid = [], 0
    for i, c in enumerate(counts):
        for j in range(c):
            eid += 1
            rows.append(
                (eid, (t0 + dt.timedelta(days=i, minutes=j)).isoformat(),
                 client, "d", "Allowed", 0.1)
            )
    return rows


def test_conformal_interval_exact_small_case(spark):
    """counts [10,12,9,14,10,13]: residuals (consecutive) =
    [2,3,5,4,3]; m=5; rank = min(ceil(6*0.95), 5) = 5 -> q = max = 5;
    point = 13 -> [8, 18]."""
    fact = make_fact(spark, _day_rows([10, 12, 9, 14, 10, 13]))
    r = robust.conformal_daily_interval(fact).collect()[0]
    assert (r.n_days, r.n_resid, r.point_forecast) == (6, 5, 13)
    assert (r.q_resid, r.lo, r.hi) == (5, 8, 18)


def test_conformal_excludes_gap_residuals(spark):
    """A 10-day outage must not contribute a giant |y - y_prev|
    residual: pairs across the gap are excluded."""
    counts = [10, 12, 11] + [0] * 10 + [50, 52, 51]
    fact = make_fact(spark, _day_rows(counts))
    r = robust.conformal_daily_interval(fact).collect()[0]
    # residuals: (12-10),(11-12) then (52-50),(51-52) -> 4, max 2
    assert r.n_resid == 4
    assert r.q_resid == 2
    assert r.point_forecast == 51


def test_conformal_coverage_on_exchangeable_series(spark):
    """Empirical check of the conformal guarantee's mechanics: with
    the q computed on the first n-1 residuals at 95%, ≥90% of the
    calibration residuals themselves sit within ±q (deterministic
    fixture, sanity not proof)."""
    counts = [10, 13, 9, 12, 11, 15, 8, 12, 10, 14, 9, 13, 11, 12, 10]
    fact = make_fact(spark, _day_rows(counts))
    r = robust.conformal_daily_interval(fact).collect()[0]
    resid = [abs(counts[i + 1] - counts[i]) for i in range(len(counts) - 1)]
    covered = sum(1 for x in resid if x <= r.q_resid)
    assert covered / len(resid) >= 0.9


def test_hapax_stats_exact_fixture(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a b c", "en", "s"),
            (2, "c d", "en", "s"),
            (3, "x y", "de", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.lang: r for r in text.vocab_hapax_stats(docs).collect()}
    en = got["en"]
    # en tokens: a a b c c d -> vocab {a,b,c,d}, hapax {b,d}
    assert (en.n_tokens, en.vocab_size, en.hapax_count) == (6, 4, 2)
    assert en.hapax_ppm == 500000
    assert en.ttr_ppm == 666666
    de = got["de"]
    assert (de.vocab_size, de.hapax_count, de.hapax_ppm) == (2, 2, 1000000)


def test_profile_distance_invariant_under_doubling(spark):
    """The 64-day shift preserves hour-of-day, so the doubled fact
    yields IDENTICAL per-client distances — the behavioral tier's
    doubling proof."""
    from piholelongtermstats_spark.plans.dashboard import _fact2x
    from piholelongtermstats_spark.plans.registry import _fact

    sf = "/root/testdata/sf0.001"
    one = {
        r.client: r.dist_ppm
        for r in behavior.client_profile_distance(_fact(spark, sf), 100).collect()
    }
    two = {
        r.client: r.dist_ppm
        for r in behavior.client_profile_distance(_fact2x(spark, sf), 100).collect()
    }
    assert one == two
