"""Deterministic resampling inference — the Poisson bootstrap
(Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
Google 2012; Kleiner et al. BLB, JMLR 2014 for the scale framing):
confidence intervals for stream-level statistics WITHOUT distributional
assumptions, in a form that distributes.

The classical multinomial bootstrap draws n rows WITH replacement per
resample — a global draw that cannot be computed row-locally. The
Poisson bootstrap replaces the multinomial weight vector with
independent w ~ Poisson(1) per (resample, row): weights are generated
map-side from a hash of (resample id, row key), no coordination, and
the resample totals concentrate around n. This is THE bootstrap shape
for a 1000-executor cluster: B·n weight rows, all map-generated, one
keyed aggregation per resample.

Determinism policy: the Poisson(1) inverse-CDF is applied to an
integer ppb uniform derived from the engine-wide 60-bit md5 primitive
(identical in Spark and DuckDB by construction); the CDF thresholds
are PINNED integer literals (the BENFORD_PPB convention — pinning
beats recomputing because the oracle then shares exact constants).
Weights are truncated at 8 (P[w ≥ 9] ≈ 1.1e-6, pinned behavior, not
an approximation claim). Every resample mean is ONE double division
of exact BIGINT sums; the CI bounds are nearest-rank order statistics
over the B-row mean relation — no fp accumulation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Pinned cumulative Poisson(1) CDF in parts-per-billion: weight k is
# assigned when u_ppb < POISSON1_CUM_PPB[k] (first match); u past the
# last threshold gets the truncation weight 9.
POISSON1_CUM_PPB = [
    367879441,  # k = 0
    735758882,  # k = 1
    919698603,  # k = 2
    981011843,  # k = 3
    996340153,  # k = 4
    999405815,  # k = 5
    999916759,  # k = 6
    999989751,  # k = 7
    999998875,  # k = 8
]


def _md5_60bit(col: F.Column) -> F.Column:
    """The engine-wide 60-bit md5 integer primitive (plans/corpus.py
    convention: bit-identical to DuckDB's ('0x'||substr(md5,1,15))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _poisson1_weight(u_ppb: F.Column) -> F.Column:
    w = None
    for k, t in enumerate(POISSON1_CUM_PPB):
        w = (F.when if w is None else w.when)(u_ppb < t, k)
    return w.otherwise(9).cast("long")


def bootstrap_daily_mean_ci(
    fact: DataFrame,
    n_resamples: int = 200,
    lo_rank_pm: int = 25,
    hi_rank_pm: int = 975,
    seed: str = "boot",
) -> DataFrame:
    """One row: (n_days, n_resamples, point_mean, lo_mean, hi_mean) —
    a 95% (by default) Poisson-bootstrap CI for the MEAN DAILY event
    count, the uncertainty statement behind every "volume changed"
    dashboard claim.

    Mechanics: the fact collapses to the daily relation once; each of
    the B resamples assigns day d the deterministic weight
    w = PoissonInvCDF(md5_ppb(seed:b:d)) and scores
    mean_b = round(Σ w·y / Σ w, 6) — exact BIGINT sums, one division.
    The CI is nearest-rank: lo = ⌈B·lo_rank_pm/1000⌉-th smallest mean,
    hi = ⌈B·hi_rank_pm/1000⌉-th. Resamples with Σw = 0 (probability
    ~e^{-n}) are dropped and reported via n_eff.

    Scale: B·|days| weight rows, generated map-side with no global
    draw; the mean shuffle is keyed by resample id (B groups); the
    rank window orders the B-row mean relation. Swap the daily
    relation for any keyed aggregate to bootstrap other statistics —
    the kernel is statistic-agnostic.
    """
    daily = fact.groupBy("date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    b = daily.sparkSession.range(n_resamples).select(
        F.col("id").cast("int").alias("b")
    )
    u = (
        _md5_60bit(
            F.concat_ws(
                ":", F.lit(seed), F.col("b"), F.date_format("date", "yyyy-MM-dd")
            )
        )
        % 1000000000
    )
    weighted = daily.crossJoin(F.broadcast(b)).select(
        "b", "y", _poisson1_weight(u).alias("w")
    )
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("y")).cast("long").alias("wy"),
            F.sum("w").cast("long").alias("wsum"),
        )
        .filter(F.col("wsum") > 0)
        .select(
            F.round(
                F.col("wy").cast("double") / F.col("wsum").cast("double"), 6
            ).alias("m")
        )
    )
    w_rank = Window.orderBy("m")
    ranked = means.select(
        "m",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n_eff"),
    )
    lo_r = F.expr(f"CAST((n_eff * {int(lo_rank_pm)} + 999) DIV 1000 AS BIGINT)")
    hi_r = F.expr(f"CAST((n_eff * {int(hi_rank_pm)} + 999) DIV 1000 AS BIGINT)")
    ci = ranked.agg(
        F.max("n_eff").alias("n_resamples_eff"),
        F.min(F.when(F.col("r") == lo_r, F.col("m"))).alias("lo_mean"),
        F.min(F.when(F.col("r") == hi_r, F.col("m"))).alias("hi_mean"),
    )
    point = daily.agg(
        F.round(
            F.sum("y").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("point_mean")
    )
    return (
        n_days.crossJoin(F.broadcast(point))
        .crossJoin(F.broadcast(ci))
        .select("n_days", "n_resamples_eff", "point_mean", "lo_mean", "hi_mean")
    )


def bootstrap_daily_median_ci(
    fact: DataFrame,
    n_resamples: int = 200,
    lo_rank_pm: int = 25,
    hi_rank_pm: int = 975,
    seed: str = "bootmed",
) -> DataFrame:
    """One row: (n_days, n_resamples_eff, point_median, lo_median,
    hi_median) — the bootstrap_daily_mean_ci kernel applied to the
    MEDIAN daily count: the statistic-agnostic claim made concrete
    (medians have no CLT-friendly closed form — bootstrap is the
    standard answer).

    Per resample the weighted lower median is the smallest y whose
    cumulative weight reaches ⌈W/2⌉ — a pure integer selection per
    resample, so every resample statistic and both CI bounds are
    exact BIGINTs end to end (no fp anywhere, unlike the mean's one
    division).

    Scale: the cumulative window partitions BY RESAMPLE over the
    daily relation (B independent ~|days|-row scans); the rank window
    orders the B-row median relation.
    """
    daily = fact.groupBy("date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    b = daily.sparkSession.range(n_resamples).select(
        F.col("id").cast("int").alias("b")
    )
    u = (
        _md5_60bit(
            F.concat_ws(
                ":", F.lit(seed), F.col("b"), F.date_format("date", "yyyy-MM-dd")
            )
        )
        % 1000000000
    )
    weighted = daily.crossJoin(F.broadcast(b)).select(
        "b", "y", _poisson1_weight(u).alias("w")
    )
    wb = Window.partitionBy("b")
    wc = wb.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    scanned = weighted.select(
        "b",
        "y",
        F.sum("w").over(wc).cast("long").alias("cumw"),
        F.sum("w").over(wb).cast("long").alias("tw"),
    )
    meds = (
        scanned.filter(F.col("tw") > 0)
        .groupBy("b")
        .agg(
            F.min(
                F.when(
                    F.col("cumw") >= F.expr("(tw + 1) DIV 2"), F.col("y")
                )
            ).cast("long").alias("med")
        )
    )
    w_rank = Window.orderBy("med", "b")
    ranked = meds.select(
        "med",
        F.row_number().over(w_rank).alias("r"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("n_eff"),
    )
    lo_r = F.expr(f"CAST((n_eff * {int(lo_rank_pm)} + 999) DIV 1000 AS BIGINT)")
    hi_r = F.expr(f"CAST((n_eff * {int(hi_rank_pm)} + 999) DIV 1000 AS BIGINT)")
    ci = ranked.agg(
        F.max("n_eff").alias("n_resamples_eff"),
        F.min(F.when(F.col("r") == lo_r, F.col("med"))).cast("long").alias(
            "lo_median"
        ),
        F.min(F.when(F.col("r") == hi_r, F.col("med"))).cast("long").alias(
            "hi_median"
        ),
    )
    wc0 = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    point = (
        daily.select(
            "y",
            F.count(F.lit(1)).over(wc0).cast("long").alias("cum"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("long").alias("n"),
        )
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("y"))
            ).cast("long").alias("point_median")
        )
    )
    return (
        n_days.crossJoin(F.broadcast(point))
        .crossJoin(F.broadcast(ci))
        .select(
            "n_days", "n_resamples_eff", "point_median", "lo_median", "hi_median"
        )
    )
