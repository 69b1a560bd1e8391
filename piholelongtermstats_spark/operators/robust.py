"""Robust time-series / anomaly-detection tier over the daily event
series — the monitoring questions a telemetry warehouse asks after
the M21–M23 tests say "something shifted": WHICH days are anomalous
(median/MAD robust z), what's the robust trend (Theil–Sen), what does
the smoothed series look like (EWMA), and how strong is the weekly
seasonality (multiplicative seasonal index).

Same engine-wide fp policy as stattests.py: every decision (outlier
gate, median selection) is exact integer arithmetic; reported fp
values are a single fixed IEEE expression over exact sufficient
statistics, identical operand tree on both engines.

Reference scope: the reference plots the daily time series
(plotting.py daily panels); this tier promotes it to the anomaly /
trend / seasonality questions. All operators aggregate the fact to
the per-day relation FIRST — every window below orders days (or
day-pairs), never event rows.

Exact-median convention (used twice here): the DOUBLED median of an
integer column is itself an integer for both parities —
med2 = x_(⌈n/2⌉) + x_(⌊n/2⌋+1) — so medians join the exact-integer
expression tree without ever dividing by 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _daily(fact: DataFrame) -> DataFrame:
    """Per-day event counts — the tiny relation everything here
    operates on (one map-side-combined shuffle of the fact)."""
    return fact.groupBy("date").agg(F.count(F.lit(1)).cast("long").alias("y"))



def mad_outlier_days(
    fact: DataFrame, k_num: int = 7, k_den: int = 2
) -> DataFrame:
    """Per-day robust outlier audit: flag days whose count deviates
    from the median by more than (k_num/k_den)·MAD (default 3.5 —
    Iglewicz & Hoaglin's conventional cut).

    Exactness: med2 = 2·median(y) and mad4 = 2·median(|2y − med2|)
    = 4·MAD are BIGINTs; the gate
        |y − med| > k·MAD  ⟺  2·k_den·|2y − med2| > k_num·mad4
    is a pure integer comparison. robust_z =
    (2·dev2)/(1.4826·mad4) — two IEEE multiplies and one division —
    is reporting only, never a decision. mad4 = 0 (≥half the days
    identical) flags any deviating day and NULLs the z-score.

    Scale: two day-relation order statistics (row_number over days)
    + two window passes over the tiny dates-sized frame; the fact is
    touched once.
    """
    # r12 (guide §2.4, the client_mad_outliers fold applied to the
    # GLOBAL variant): both doubled medians are window sums over the
    # dates-sized daily relation — rank the rows, zero the non-middle
    # ones, sum over the (tiny, unpartitioned — the accepted
    # dates-frame pattern) full frame. This removes both eager
    # localCheckpoints, both driver-side _med2 count() actions at
    # plan-construction time, and both broadcast join-backs, leaving
    # ONE lineage that touches the fact once. Identical arithmetic:
    # the same two order statistics under the same orderings ((y,
    # date) for the median; (u) for the MAD — ties in u carry equal
    # values, so the summed middles are tie-order-free).
    daily = _daily(fact)
    wall = Window.partitionBy()

    def _mid(r: F.Column, n: F.Column) -> F.Column:
        return (r == F.floor((n + 1) / 2)) | (r == F.floor(n / 2) + 1)

    n1 = F.count(F.lit(1)).over(wall)
    r1 = F.row_number().over(Window.orderBy("y", "date"))
    ranked = daily.select(
        "date",
        "y",
        n1.alias("_n"),
        F.when(_mid(r1, n1), F.col("y")).otherwise(F.lit(0)).alias("_mc"),
    )
    odd = F.col("_n") % 2 == 1
    med2c = (
        F.when(odd, 2 * F.sum("_mc").over(wall))
        .otherwise(F.sum("_mc").over(wall))
        .cast("long")
    )
    dev = ranked.select(
        "date", "y", "_n", med2c.alias("med2")
    ).withColumn("u", F.abs(2 * F.col("y") - F.col("med2")))
    r2 = F.row_number().over(Window.orderBy("u"))
    dev2r = dev.select(
        "date",
        "y",
        "med2",
        "u",
        "_n",
        F.when(_mid(r2, F.col("_n")), F.col("u"))
        .otherwise(F.lit(0))
        .alias("_uc"),
    )
    mad4c = (
        F.when(odd, 2 * F.sum("_uc").over(wall))
        .otherwise(F.sum("_uc").over(wall))
        .cast("long")
    )
    out = dev2r.select("date", "y", "med2", "u", mad4c.alias("mad4"))
    dev2 = 2 * F.col("y") - F.col("med2")
    z = (2.0 * dev2.cast("double")) / (1.4826 * F.col("mad4").cast("double"))
    return out.select(
        "date",
        "y",
        "med2",
        "mad4",
        dev2.alias("dev2"),
        F.round(F.when(F.col("mad4") > 0, z), 6).alias("robust_z"),
        (2 * k_den * F.col("u") > k_num * F.col("mad4"))
        .cast("int")
        .alias("is_outlier"),
    )


def theil_sen_daily_trend(fact: DataFrame) -> DataFrame:
    """One row: Theil–Sen robust trend of the daily count series —
    the median of all pairwise slopes (y_j − y_i)/(idx_j − idx_i)
    (Theil 1950; Sen 1968). Breakdown point 29%: a week of outage
    days barely moves it where OLS (daily_trend_slope) swings.

    Median selection is EXACT: pairwise slopes are rationals
    (num, den both BIGINT); they are ordered by the double quotient
    with (num, den) as deterministic tie-breakers — two unequal
    rationals that collide in double ULPs order identically in both
    engines, so both select the same element(s). The reported slope
    is then (v1 + v2)/2 over the selected quotients — fixed IEEE.

    Scale: the pairwise relation is DAYS², not events (the
    mann_kendall convention — ~5·10⁵ pairs for a 3-year series);
    one row_number window over it selects both order statistics.
    """
    # dates-sized fan-out input materialized once (r12, guide §2.4):
    # daily still feeds idx (twice, via both pair sides) and the
    # day-count leg. The PAIR side is now single-consumer (r12 window
    # fold): the median ranks come from a count-over-window instead
    # of a driver-side pairs.count() action, so the pairs checkpoint
    # and the build-time count job disappear and the self-join runs
    # once inside one lineage. The day-origin join is folded the same
    # way (min(date) as a window over the checkpointed daily). Median
    # arithmetic unchanged: the same one/two order statistics under
    # the same (slope, num, den) ordering; the even-n case sums the
    # same two doubles before the single /2.0.
    daily = _daily(fact).localCheckpoint(eager=True)
    wall_d = Window.partitionBy()
    idx = daily.select(
        F.datediff(F.col("date"), F.min("date").over(wall_d))
        .cast("long")
        .alias("i"),
        "y",
    )
    a = idx.select(F.col("i").alias("i1"), F.col("y").alias("y1"))
    b = idx.select(F.col("i").alias("i2"), F.col("y").alias("y2"))
    pairs = a.join(b, F.col("i1") < F.col("i2")).select(
        (F.col("y2") - F.col("y1")).alias("num"),
        (F.col("i2") - F.col("i1")).alias("den"),
    )
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    wall_p = Window.partitionBy()
    w = Window.orderBy(slope, "num", "den")
    r = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wall_p)
    mid = (r == F.floor((n + 1) / 2)) | (r == F.floor(n / 2) + 1)
    ranked = pairs.select(
        F.when(mid, slope).alias("_mc"), n.alias("_n")
    )
    med = ranked.agg(
        F.coalesce(F.max("_n"), F.lit(0)).cast("long").alias("n_pairs"),
        F.sum("_mc").alias("_s"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        med.join(F.broadcast(n_days))
        .select(
            "n_days",
            "n_pairs",
            F.round(
                F.when(F.col("n_pairs") % 2 == 1, F.col("_s")).otherwise(
                    F.col("_s") / 2.0
                ),
                6,
            ).alias("slope_per_day"),
        )
    )


def ewma_daily_counts(fact: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-day exponentially weighted moving average of the count
    series: e_1 = y_1, e_t = α·y_t + (1−α)·e_{t−1}.

    The recurrence is inherently sequential, so it folds ONCE over
    the date-sorted daily array with F.aggregate — a JVM catalyst
    fold whose per-step expression (α·y + (1−α)·prev: two multiplies
    + one add, all correctly rounded) the DuckDB oracle replays in a
    recursive CTE with the identical operand tree ⇒ bit-identical
    doubles, rounded to 6 for serving.

    Scale: the folded array is the DAILY relation (≤ a few thousand
    structs for years of data) living in one task after a ≤days-row
    shuffle; the fact itself is reduced map-side. Were the series
    itself huge, the linear recurrence is an associative-scan
    (a,b)∘(c,d) = (ac, bc+d) and would take the packing.py two-level
    prefix-scan route — at daily grain the single fold is the right
    plan at any fact volume.
    """
    daily = _daily(fact)
    xs = daily.agg(
        F.array_sort(F.collect_list(F.struct("date", "y"))).alias("xs")
    )
    return (
        xs.select(F.explode(_ewma_fold(alpha)).alias("e"))
        .select("e.date", "e.y", F.round("e.ewma", 6).alias("ewma"))
    )


def _ewma_fold(alpha: float) -> F.Column:
    """Catalyst fold of the EWMA recurrence over a date-sorted ``xs``
    array column of (date, y) structs → (date, y, ewma) structs. The
    per-step expression α·y + (1−α)·prev is the ONE operand tree the
    DuckDB recursive-CTE oracle and the streaming state processor
    (streaming/ewma.py) both replay verbatim."""
    acc0 = F.expr(
        "CAST(array() AS array<struct<date:timestamp,y:bigint,ewma:double>>)"
    )
    step = lambda acc, x: F.concat(  # noqa: E731
        acc,
        F.array(
            F.struct(
                x["date"].alias("date"),
                x["y"].alias("y"),
                F.when(F.size(acc) == 0, x["y"].cast("double"))
                .otherwise(
                    F.lit(alpha) * x["y"].cast("double")
                    + F.lit(1.0 - alpha) * F.element_at(acc, -1)["ewma"]
                )
                .alias("ewma"),
            )
        ),
    )
    return F.aggregate("xs", acc0, step)


def ewma_by_client(daily: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Per-client EWMA over a (client, date, y) daily relation — the
    BATCH twin of streaming/ewma.streaming_client_ewma (stream ≡
    batch pinned on shared files in tests/test_streaming_ewma.py).

    One grouped fold per client: collect_list shuffles the per-client
    day structs (≤ #days each — calendar-bounded), the fold itself is
    the shared catalyst expression. No global windows, no driver."""
    xs = daily.groupBy("client").agg(
        F.array_sort(F.collect_list(F.struct("date", "y"))).alias("xs")
    )
    return (
        xs.select("client", F.explode(_ewma_fold(alpha)).alias("e"))
        .select(
            "client", "e.date", "e.y", F.round("e.ewma", 6).alias("ewma")
        )
    )


def weekday_seasonal_index(fact: DataFrame) -> DataFrame:
    """Per-weekday multiplicative seasonal index: mean daily count of
    that weekday over the overall mean daily count — the classical
    ratio-to-moving-average seasonality estimator at weekly period
    (with the full-series mean as the base, exact at any volume).

    index_w = (S_w/n_w)/(S/n) = (S_w·n)/(n_w·S): numerator and
    denominator are exact BIGINT cross-products; the index is their
    single division, rounded to 6.
    """
    daily = fact.groupBy("date", "day_name").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    per_wd = daily.groupBy("day_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("day_total"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("s_all"),
    )
    j = per_wd.join(F.broadcast(tot))
    num = F.col("day_total") * F.col("n_all")
    den = F.col("n_days") * F.col("s_all")
    return j.select(
        "day_name",
        "n_days",
        "day_total",
        num.alias("idx_num"),
        den.alias("idx_den"),
        F.round(num.cast("double") / den.cast("double"), 6).alias(
            "seasonal_index"
        ),
    )


def client_mad_outliers(
    fact: DataFrame, k_num: int = 7, k_den: int = 2
) -> DataFrame:
    """Per-(client, day) robust outlier audit — mad_outlier_days
    generalized per key. Same integer-exact doubled-median/MAD gate,
    but every window is PARTITIONED BY client over the (client, day)
    relation: per-key medians come from two partitioned order
    statistics, so nothing funnels through a single partition no
    matter how many clients exist. Skewed clients cost only their own
    day-count (≤ #days rows per partition — bounded by calendar time,
    not volume).
    """
    # r12 rewrite (guide §2.4 "remove shuffles outright"): the old
    # shape computed each doubled median as rank-filter → groupBy →
    # join-back, so `daily` fed two consumers and `dev` fed two more
    # — up to four fact-wide daily aggregations (eager checkpoints
    # were measured slower; AQE absorbed only part of the fan-out).
    # Both doubled medians are really WINDOW sums over the same
    # client partitioning: rank the rows, zero out the non-middle
    # ones, sum over the client partition — so the whole operator is
    # one aggregation plus three window passes over ONE hash(client)
    # exchange, with no joins and no recompute. Identical arithmetic:
    # the same two order statistics are selected under the same
    # orderings ((y, date) for the median; (u) for the MAD — ties in
    # u carry equal _v, so the summed middle VALUES are unchanged
    # under any tie order).
    daily = fact.groupBy("client", "date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    wp = Window.partitionBy("client")

    def _mid(r: F.Column, n: F.Column) -> F.Column:
        # ranks (n+1) DIV 2 and n DIV 2 + 1 — floor of an exact half
        return (r == F.floor((n + 1) / 2)) | (r == F.floor(n / 2) + 1)

    n1 = F.count(F.lit(1)).over(wp)
    r1 = F.row_number().over(wp.orderBy("y", "date"))
    ranked = daily.select(
        "client",
        "date",
        "y",
        n1.alias("_n"),
        F.when(_mid(r1, n1), F.col("y")).otherwise(F.lit(0)).alias("_mc"),
    )
    odd = F.max("_n").over(wp) % 2 == 1
    med2c = (
        F.when(odd, 2 * F.sum("_mc").over(wp))
        .otherwise(F.sum("_mc").over(wp))
        .cast("long")
    )
    dev = ranked.select(
        "client", "date", "y", "_n", med2c.alias("med2")
    ).withColumn("u", F.abs(2 * F.col("y") - F.col("med2")))
    r2 = F.row_number().over(wp.orderBy("u"))
    dev2r = dev.select(
        "client",
        "date",
        "y",
        "med2",
        "u",
        "_n",
        F.when(_mid(r2, F.col("_n")), F.col("u"))
        .otherwise(F.lit(0))
        .alias("_uc"),
    )
    mad4c = (
        F.when(odd, 2 * F.sum("_uc").over(wp))
        .otherwise(F.sum("_uc").over(wp))
        .cast("long")
    )
    out = dev2r.select(
        "client", "date", "y", "med2", "u", mad4c.alias("mad4")
    )
    dev2 = 2 * F.col("y") - F.col("med2")
    z = (2.0 * dev2.cast("double")) / (1.4826 * F.col("mad4").cast("double"))
    return out.select(
        "client",
        "date",
        "y",
        "med2",
        "mad4",
        dev2.alias("dev2"),
        F.round(F.when(F.col("mad4") > 0, z), 6).alias("robust_z"),
        (2 * k_den * F.col("u") > k_num * F.col("mad4"))
        .cast("int")
        .alias("is_outlier"),
    )


def holt_linear_daily(
    fact: DataFrame, alpha: float = 0.3, beta: float = 0.2
) -> DataFrame:
    """Per-day Holt double exponential smoothing (level + trend) of
    the daily count series (Holt 1957):
        l_1 = y_1, b_1 = 0;
        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    Output per day: (date, y, level, trend, forecast_next = l + b).

    The TWO-state recurrence folds exactly like the one-state EWMA:
    one catalyst fold over the date-sorted daily array; the oracle's
    recursive CTE carries (l, b) through the identical IEEE operand
    trees (compute l_new first, then b_new FROM l_new — order pinned
    on both engines), so values match bit-for-bit before the shared
    round-to-6. Same day-grain scale shape as ewma_daily_counts.
    """
    daily = _daily(fact)
    xs = daily.agg(
        F.array_sort(F.collect_list(F.struct("date", "y"))).alias("xs")
    )
    acc0 = F.expr(
        "CAST(array() AS array<struct<"
        "date:timestamp,y:bigint,l:double,b:double>>)"
    )

    def step(acc, x):
        prev = F.element_at(acc, -1)
        yv = x["y"].cast("double")
        l_new = F.when(F.size(acc) == 0, yv).otherwise(
            F.lit(alpha) * yv
            + F.lit(1.0 - alpha) * (prev["l"] + prev["b"])
        )
        b_new = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            F.lit(beta) * (l_new - prev["l"])
            + F.lit(1.0 - beta) * prev["b"]
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    x["date"].alias("date"),
                    x["y"].alias("y"),
                    l_new.alias("l"),
                    b_new.alias("b"),
                )
            ),
        )

    return (
        xs.select(F.explode(F.aggregate("xs", acc0, step)).alias("e"))
        .select(
            "e.date",
            "e.y",
            F.round("e.l", 6).alias("level"),
            F.round("e.b", 6).alias("trend"),
            F.round(F.col("e.l") + F.col("e.b"), 6).alias("forecast_next"),
        )
    )


def forecast_error_panel(fact: DataFrame) -> DataFrame:
    """One row: in-engine evaluation of the two classical zero-
    parameter forecasters over the daily series — persistence
    (ŷ_t = y_{t−1}) and seasonal-naive (ŷ_t = y_{t−7}) — scored on
    the days where BOTH are defined (t > 7), so the comparison and
    the MASE-style ratio share one denominator set.

    mae_*_num = Σ|y_t − ŷ_t| and n_scored are exact BIGINTs; each MAE
    is one division; mase_persistence = mae_p_num/mae_s_num (the
    Hyndman & Koehler 2006 scaled-error shape with the seasonal-naive
    as the scale) is a division of the two exact numerators — < 1
    means persistence beats the weekly pattern. Day-grain lags over
    the day relation; nothing touches event rows after the first agg.
    """
    daily = _daily(fact)
    w = Window.orderBy("date")
    lagged = daily.select(
        "date",
        "y",
        F.lag("y", 1).over(w).alias("p1"),
        F.lag("y", 7).over(w).alias("p7"),
    ).filter(F.col("p7").isNotNull())
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.abs(F.col("y") - F.col("p1"))).cast("long").alias("mae_p_num"),
        F.sum(F.abs(F.col("y") - F.col("p7"))).cast("long").alias("mae_s_num"),
    )
    return agg.select(
        "n_scored",
        "mae_p_num",
        "mae_s_num",
        F.round(
            F.col("mae_p_num").cast("double") / F.col("n_scored").cast("double"), 6
        ).alias("mae_persistence"),
        F.round(
            F.col("mae_s_num").cast("double") / F.col("n_scored").cast("double"), 6
        ).alias("mae_seasonal"),
        F.round(
            F.when(
                F.col("mae_s_num") > 0,
                F.col("mae_p_num").cast("double")
                / F.col("mae_s_num").cast("double"),
            ),
            6,
        ).alias("mase_persistence"),
    )


def tukey_fence_days(fact: DataFrame) -> DataFrame:
    """Per-day boxplot (Tukey fence) outlier audit — the quartile
    complement of the MAD gate: flag days outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR].

    Quartiles are type-1 nearest-rank (the exact_group_quantiles
    convention): Q1 = smallest y with rank ≥ ⌈n/4⌉, Q3 at ⌈3n/4⌉ —
    single BIGINT values, no interpolation. The fences become pure
    integer comparisons in doubled units:
        y < Q1 − 1.5·IQR  ⟺  2y < 5·Q1 − 3·Q3
        y > Q3 + 1.5·IQR  ⟺  2y > 5·Q3 − 3·Q1.
    Same two-order-statistic day-relation plan as mad_outlier_days.
    """
    # r12 (guide §2.4, the mad_outlier_days window fold): both
    # quartiles are window aggregates of the dates-sized daily
    # relation — rank the rows, pick the ceil(n/4)/ceil(3n/4) values,
    # spread them with full-frame mins. One lineage: no eager
    # checkpoint, no driver-side count() at plan-construction time,
    # no keyless broadcast join. Identical integers (same nearest-rank
    # order statistics under the same (y, date) ordering).
    daily = _daily(fact)
    wall = Window.partitionBy()
    n = F.count(F.lit(1)).over(wall)
    r = F.row_number().over(Window.orderBy("y", "date"))
    ranked = daily.select(
        "date",
        "y",
        F.when(r == F.floor((n + 3) / 4), F.col("y")).alias("_q1c"),
        F.when(r == F.floor((3 * n + 3) / 4), F.col("y")).alias("_q3c"),
    )
    out = ranked.select(
        "date",
        "y",
        F.min("_q1c").over(wall).alias("q1"),
        F.min("_q3c").over(wall).alias("q3"),
    )
    lo = (2 * F.col("y") < 5 * F.col("q1") - 3 * F.col("q3")).cast("int")
    hi = (2 * F.col("y") > 5 * F.col("q3") - 3 * F.col("q1")).cast("int")
    return out.select(
        "date", "y", "q1", "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        lo.alias("below_fence"),
        hi.alias("above_fence"),
    )


def rolling_bands_daily(fact: DataFrame, width: int = 7) -> DataFrame:
    """Per-day trailing ``width``-day mean ± 2σ bands over the count
    series (Bollinger 1983 at daily grain) — the volatility envelope
    the EWMA/MAD tiers plot against.

    Exact window moments: win_n / win_sum (BIGINT) and win_sumsq
    (DECIMAL(38,0)) from ONE rows-window over the day relation; mean,
    sample σ, and the ±2σ bands are fixed IEEE expressions per row.
    The window is trailing-rows (not range), so the first width−1
    days carry honest partial-window stats with win_n < width.
    """
    daily = _daily(fact)
    w = Window.orderBy("date").rowsBetween(-(width - 1), 0)
    dec = "decimal(38,0)"
    base = daily.select(
        "date",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        F.sum("y").over(w).cast("long").alias("win_sum"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).over(w).alias("win_sumsq"),
    )
    nd = F.col("win_n").cast("double")
    sd_ = F.col("win_sum").cast("double")
    qd = F.col("win_sumsq").cast("double")
    mean = sd_ / nd
    var = (qd - sd_ * sd_ / nd) / (nd - 1.0)
    sd = F.sqrt(var)
    ok = F.col("win_n") > 1
    # win_sumsq is DECIMAL internally; DOUBLE at the output boundary
    # (the welch_day_night serialization rule).
    return base.select(
        "date",
        "y",
        "win_n",
        "win_sum",
        qd.alias("win_sumsq"),
        F.round(mean, 6).alias("mean_w"),
        F.round(F.when(ok, sd), 6).alias("sd_w"),
        F.round(F.when(ok, mean + 2.0 * sd), 6).alias("upper"),
        F.round(F.when(ok, mean - 2.0 * sd), 6).alias("lower"),
    )


def rolling_range_bands(fact: DataFrame, width: int = 7) -> DataFrame:
    """``rolling_bands_daily`` with CALENDAR (RANGE) window semantics:
    the trailing window covers the last ``width`` calendar days, not
    the last ``width`` PRESENT rows — on a series with missing days
    the two differ (ROWS silently stretches across gaps; RANGE honors
    them, reporting win_n < width after a gap). The distinction is a
    real operator-semantics choice a telemetry dashboard must make;
    tests pin a gapped fixture where the two variants diverge.

    Mechanics: days map to an integer index (datediff from the
    broadcast min date) so the window is ``rangeBetween(−(width−1),0)``
    over a numeric key — engine-portable (DuckDB replays it as RANGE
    BETWEEN n PRECEDING over the same index). Moments exact
    (BIGINT + DECIMAL internally, DOUBLE at the output boundary);
    the window orders the per-date summary only.
    """
    daily = _daily(fact)
    d0 = daily.agg(F.min("date").alias("d0"))
    idx = daily.join(F.broadcast(d0)).select(
        "date", "y", F.datediff("date", "d0").cast("long").alias("idx")
    )
    w = Window.orderBy("idx").rangeBetween(-(width - 1), 0)
    dec = "decimal(38,0)"
    base = idx.select(
        "date",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        F.sum("y").over(w).cast("long").alias("win_sum"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).over(w).alias("win_sumsq"),
    )
    nd = F.col("win_n").cast("double")
    sd_ = F.col("win_sum").cast("double")
    qd = F.col("win_sumsq").cast("double")
    mean = sd_ / nd
    var = (qd - sd_ * sd_ / nd) / (nd - 1.0)
    sd = F.sqrt(var)
    ok = F.col("win_n") > 1
    return base.select(
        "date",
        "y",
        "win_n",
        "win_sum",
        qd.alias("win_sumsq"),
        F.round(mean, 6).alias("mean_w"),
        F.round(F.when(ok, sd), 6).alias("sd_w"),
        F.round(F.when(ok, mean + 2.0 * sd), 6).alias("upper"),
        F.round(F.when(ok, mean - 2.0 * sd), 6).alias("lower"),
    )


def conformal_daily_interval(fact: DataFrame, cov_pm: int = 950) -> DataFrame:
    """One row: a split-conformal prediction interval for TOMORROW's
    event count under the persistence forecast (Vovk et al. 2005;
    Lei et al. JASA 2018 — the distribution-free guarantee: the
    interval covers with probability ≥ cov_pm/1000 under
    exchangeability of the residuals, no model assumptions).

    Calibration residuals r_t = |y_t − y_{t−1}| over consecutive-day
    pairs (gaps excluded — a persistence residual across an outage
    measures the outage, not the forecaster); the conformal quantile
    is the nearest-rank ⌈(m+1)·cov/1000⌉-th smallest residual (the
    finite-sample +1 correction), capped at the max residual. The
    interval is point ± q — every quantity an exact BIGINT.

    Output: (n_days, n_resid, point_forecast, q_resid, lo, hi).

    Scale: everything after the one partial agg runs on the daily
    relation; the residual-rank window orders distinct residual
    values (histogram convention).
    """
    daily = _daily(fact)
    w = Window.orderBy("date")
    resid = (
        daily.select(
            "date",
            "y",
            F.lag("y").over(w).alias("y_prev"),
            F.lag("date").over(w).alias("d_prev"),
        )
        .filter(
            F.col("y_prev").isNotNull()
            & (F.datediff("date", "d_prev") == 1)
        )
        .select(F.abs(F.col("y") - F.col("y_prev")).alias("r"))
    )
    hist = resid.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wc = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    h = hist.select(
        "r",
        F.sum("cnt").over(wc).cast("long").alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("m"),
    )
    rank = F.expr(f"least((m + 1) * {int(cov_pm)} DIV 1000 + "
                  f"CAST(((m + 1) * {int(cov_pm)}) % 1000 > 0 AS BIGINT), m)")
    q = h.agg(
        F.max("m").alias("n_resid"),
        F.min(F.when(F.col("cum") >= rank, F.col("r")))
        .cast("long")
        .alias("q_resid"),
    )
    last = daily.orderBy(F.col("date").desc()).limit(1).select(
        F.col("y").alias("point_forecast")
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(last))
        .crossJoin(F.broadcast(q))
        .select(
            "n_days",
            "n_resid",
            "point_forecast",
            "q_resid",
            (F.col("point_forecast") - F.col("q_resid")).alias("lo"),
            (F.col("point_forecast") + F.col("q_resid")).alias("hi"),
        )
    )


def stl_lite_daily(fact: DataFrame) -> DataFrame:
    """Per-day additive seasonal decomposition of the count series —
    STL's classical ancestor (Cleveland et al.'s decompose():
    centered-MA trend, weekday means of the detrended series as the
    seasonal component, remainder):

        trend_t    = mean(y over the centered 7-day ROWS window)
        det7_t     = win_n·y_t − win_sum          (n-cleared INTEGER)
        seasonal_w = mean of det7 over weekday w  (on the n-cleared
                     scale: one exact integer sum per weekday)
        remain7_t  = det7_t·cnt_w − s_sum_w       (doubly-cleared int)

    Exactness: every REPORTED mean is one rounded division of exact
    BIGINTs; det7 and the doubly-cleared remainder are pure integers,
    so the decomposition's structure (signs, orderings) can never
    drift between engines. Head/tail days carry honest partial
    centered windows (win_n < 7) — pinned, not hidden.

    Scale: one partial agg to days; the centered window and the
    weekday rollup run on the daily relation.
    """
    daily = _daily(fact)
    w = Window.orderBy("date").rowsBetween(-3, 3)
    base = daily.select(
        "date",
        "y",
        F.dayofweek("date").cast("int").alias("wd"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
        F.sum("y").over(w).cast("long").alias("win_sum"),
    )
    det7 = (F.col("win_n") * F.col("y") - F.col("win_sum")).cast("long")
    # Fan-out left to AQE exchange reuse (r12): an eager checkpoint of
    # d was measured slower standalone — both consumers sit over the
    # same window exchange.
    d = base.withColumn("det7", det7)
    season = d.groupBy("wd").agg(
        F.sum("det7").cast("long").alias("s_sum"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    out = d.join(F.broadcast(season), "wd")
    trend = F.col("win_sum").cast("double") / F.col("win_n").cast("double")
    seasonal = F.col("s_sum").cast("double") / F.col("s_cnt").cast("double")
    remain7 = (
        F.col("det7") * F.col("s_cnt") - F.col("s_sum")
    ).cast("long")
    return out.select(
        "date",
        "y",
        "win_n",
        "win_sum",
        "det7",
        F.col("s_cnt").alias("wd_cnt"),
        F.col("s_sum").alias("wd_det_sum"),
        remain7.alias("remain7_scaled"),
        F.round(trend, 6).alias("trend_mean"),
        F.round(seasonal, 6).alias("seasonal_mean"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def seasonal_adjusted_outliers(
    fact: DataFrame, k_num: int = 7, k_den: int = 2
) -> DataFrame:
    """Per-day robust outlier audit on the SEASONALLY ADJUSTED series
    — the mad_outlier_days gate applied to stl_lite_daily's n-cleared
    remainder instead of the raw counts: a quiet Sunday stops
    tripping the alarm and a busy-for-a-Sunday day starts to.

    The adjusted signal is the doubly-cleared integer remainder
    r_t = det7_t·cnt_w − s_sum_w (robust.stl_lite_daily), so the
    doubled-median/MAD machinery applies verbatim: med2 = 2·median(r),
    mad4 = 2·median(|2r − med2|), gate 2·k_den·|2r − med2| >
    k_num·mad4 — pure integer comparisons end to end; robust_z is
    reporting only.

    Caveat (documented, not hidden): head/tail days carry partial
    centered windows and weekday groups mix window widths, so the
    remainder scale is only homogeneous on the interior — the gate is
    a DASHBOARD alarm, not a test statistic (the inference tier's
    welch/levene handle those questions).

    Scale: the daily relation drives everything; medians are
    row_number order statistics over days.
    """
    # r12 (guide §2.4, the mad_outlier_days window fold): both doubled
    # medians are window sums over the dates-sized adjusted relation —
    # ONE consumer of stl_lite_daily, so the outer projection
    # checkpoint, both _med2 driver-side count() actions and both
    # broadcast join-backs disappear. Identical arithmetic: the same
    # order statistics under orderBy(remain7_scaled) / orderBy(u)
    # (ties carry equal values — tie-order-free sums).
    stl = stl_lite_daily(fact).select("date", "y", "remain7_scaled")
    wall = Window.partitionBy()

    def _mid(r: F.Column, n: F.Column) -> F.Column:
        return (r == F.floor((n + 1) / 2)) | (r == F.floor(n / 2) + 1)

    n1 = F.count(F.lit(1)).over(wall)
    r1 = F.row_number().over(Window.orderBy("remain7_scaled"))
    ranked = stl.select(
        "date",
        "y",
        "remain7_scaled",
        n1.alias("_n"),
        F.when(_mid(r1, n1), F.col("remain7_scaled"))
        .otherwise(F.lit(0))
        .alias("_mc"),
    )
    odd = F.col("_n") % 2 == 1
    med2c = (
        F.when(odd, 2 * F.sum("_mc").over(wall))
        .otherwise(F.sum("_mc").over(wall))
        .cast("long")
    )
    dev = ranked.select(
        "date", "y", "remain7_scaled", "_n", med2c.alias("med2")
    ).withColumn("u", F.abs(2 * F.col("remain7_scaled") - F.col("med2")))
    r2 = F.row_number().over(Window.orderBy("u"))
    dev2r = dev.select(
        "date",
        "y",
        "remain7_scaled",
        "med2",
        "u",
        "_n",
        F.when(_mid(r2, F.col("_n")), F.col("u"))
        .otherwise(F.lit(0))
        .alias("_uc"),
    )
    mad4c = (
        F.when(odd, 2 * F.sum("_uc").over(wall))
        .otherwise(F.sum("_uc").over(wall))
        .cast("long")
    )
    out = dev2r.select(
        "date", "y", "remain7_scaled", "med2", "u", mad4c.alias("mad4")
    )
    dev2 = 2 * F.col("remain7_scaled") - F.col("med2")
    z = (2.0 * dev2.cast("double")) / (1.4826 * F.col("mad4").cast("double"))
    return out.select(
        "date",
        "y",
        F.col("remain7_scaled").alias("adj"),
        "med2",
        "mad4",
        F.round(F.when(F.col("mad4") > 0, z), 6).alias("robust_z"),
        (2 * k_den * F.col("u") > k_num * F.col("mad4"))
        .cast("int")
        .alias("is_outlier"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def holt_winters_daily(
    fact: DataFrame,
    alpha: float = 0.25,
    beta: float = 0.1,
    gamma: float = 0.2,
    period: int = 7,
) -> DataFrame:
    """Per-day Holt–Winters ADDITIVE triple smoothing (level + trend
    + weekly seasonal) of the daily count series — the seasonal
    completion of holt_linear_daily (Winters 1960):

        init (t = period): l = mean(y_1..y_p), b = 0,
                           s_i = y_i − l  for i = 1..p
        t > period:
            l_t = α·(y_t − s_{t−p}) + (1−α)·(l_{t−1} + b_{t−1})
            b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
            s_t = γ·(y_t − l_t) + (1−γ)·s_{t−p}

    Output one row per day t > period: (date, y, level, trend,
    seasonal, forecast_next = l_t + b_t + s_{t−p+1}). Series shorter
    than period+1 days produce an EMPTY frame (the registry-wide
    empty-input contract).

    The THREE-state recurrence folds like the (l, b) Holt fold with
    the seasonal queue carried as a length-p double array inside the
    accumulator struct (element 1 is always s_{t−p}); the DuckDB
    recursive CTE carries the same LIST and replays the identical
    IEEE operand trees (l_new computed first and inlined into b/s —
    order pinned) ⇒ bit-identical before the shared round-to-6.
    Defaults are chosen so every (1−x) literal is the same double on
    both engines (1−0.25, 1−0.1, 1−0.2 are all exactly the parsed
    literals .75/.9/.8).

    Scale: day-grain relation; one single-task fold over ≤ years of
    days (the ewma_daily_counts argument).
    """
    daily = _daily(fact)
    w = Window.orderBy("date")
    seq = daily.select("date", "y", F.row_number().over(w).alias("r"))
    head = seq.filter(F.col("r") <= period).agg(
        F.sum("y").cast("long").alias("s_head"),
        F.count(F.lit(1)).cast("long").alias("n_head"),
        F.array_sort(F.collect_list(F.struct("r", "y"))).alias("head_xs"),
    )
    rest = seq.filter(F.col("r") > period).agg(
        F.array_sort(F.collect_list(F.struct("r", "date", "y"))).alias("xs")
    )
    j = head.join(rest).filter(F.col("n_head") >= period)
    l0 = F.col("s_head").cast("double") / F.lit(float(period))
    season0 = F.transform(
        F.col("head_xs"), lambda h: h["y"].cast("double") - l0
    )
    out_t = (
        "array<struct<date:timestamp,y:bigint,l:double,b:double,"
        "seas:double,fc:double>>"
    )
    acc0 = F.struct(
        l0.alias("l"),
        F.lit(0.0).alias("b"),
        season0.alias("s"),
        F.expr(f"CAST(array() AS {out_t})").alias("out"),
    )

    def step(acc, x):
        yv = x["y"].cast("double")
        su = F.element_at(acc["s"], 1)
        l_new = F.lit(alpha) * (yv - su) + F.lit(1.0 - alpha) * (
            acc["l"] + acc["b"]
        )
        b_new = F.lit(beta) * (l_new - acc["l"]) + F.lit(1.0 - beta) * acc["b"]
        s_new = F.lit(gamma) * (yv - l_new) + F.lit(1.0 - gamma) * su
        s_arr = F.concat(F.slice(acc["s"], 2, period - 1), F.array(s_new))
        fc = l_new + b_new + F.element_at(s_arr, 1)
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            s_arr.alias("s"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["date"].alias("date"),
                        x["y"].alias("y"),
                        l_new.alias("l"),
                        b_new.alias("b"),
                        s_new.alias("seas"),
                        fc.alias("fc"),
                    )
                ),
            ).alias("out"),
        )

    folded = F.aggregate(F.col("xs"), acc0, step)
    return (
        j.select(F.explode(folded["out"]).alias("e"))
        .select(
            "e.date",
            "e.y",
            F.round("e.l", 6).alias("level"),
            F.round("e.b", 6).alias("trend"),
            F.round("e.seas", 6).alias("seasonal"),
            F.round("e.fc", 6).alias("forecast_next"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# Shared Cramer formula TEXT for the 3-parameter normal equations —
# evaluated verbatim by F.expr on the Spark side and pasted verbatim
# into the DuckDB oracle, so the operand trees are identical by
# construction (plans/stats.py). Columns: n, st, sw, stt, stw (exact
# DECIMAL/HUGEINT moments; sww = sw because w² = w) and the rhs
# sy, sty, swy.
WK_DET = (
    "(n * (stt * sw - stw * stw) - st * (st * sw - stw * sw)"
    " + sw * (st * stw - stt * sw))"
)
WK_DET_A = (
    "(sy * (stt * sw - stw * stw) - st * (sty * sw - stw * swy)"
    " + sw * (sty * stw - stt * swy))"
)
WK_DET_B = (
    "(n * (sty * sw - stw * swy) - sy * (st * sw - stw * sw)"
    " + sw * (st * swy - sty * sw))"
)
WK_DET_C = (
    "(n * (stt * swy - sty * stw) - st * (st * swy - sty * sw)"
    " + sy * (st * stw - stt * sw))"
)


def weekend_adjusted_trend(fact: DataFrame) -> DataFrame:
    """One row — the day-grain multiple regression
    y = a + b·t + c·is_weekend fitted by EXACT normal equations:
    (n_days, intercept, slope_per_day, weekend_effect). The volume
    question daily_trend_slope answers, with the weekend level shift
    absorbed into its own coefficient instead of biasing the slope
    (omitted-variable bias: a Mon-start window under a weekend bump
    reads a spurious trend).

    All nine sufficient moments (n, Σt, Σw, Σt², Σtw, Σy, Σty, Σwy —
    Σw² = Σw since w ∈ {0,1}) are exact integers from ONE aggregate;
    the 3×3 Cramer determinants evaluate a SHARED expression string
    (WK_DET*) through F.expr here and verbatim SQL in the oracle, in
    DECIMAL(38,0)/HUGEINT (entries ≤ n·t² keep every 3-term product
    « 10³⁸ at 10⁴ days × 10¹² events). Each coefficient is one final
    division, rounded to 6. A design without weekend contrast
    (Σw = 0 or Σw = n) or otherwise singular (det = 0) yields NULL
    coefficients.

    Scale: one map-side-combined day collapse, one scalar aggregate,
    zero windows.
    """
    dec = "decimal(38,0)"
    daily = _daily(fact)
    d0 = daily.agg(F.min("date").alias("d0"))
    scored = daily.join(F.broadcast(d0)).select(
        F.col("y").cast("long").alias("y"),
        F.datediff("date", "d0").cast("long").alias("t"),
        F.dayofweek("date").isin(1, 7).cast("long").alias("w"),
    )
    m = scored.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("t").cast(dec).alias("st"),
        F.sum("w").cast(dec).alias("sw"),
        F.sum(F.col("t") * F.col("t")).cast(dec).alias("stt"),
        F.sum(F.col("t") * F.col("w")).cast(dec).alias("stw"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("t").cast(dec) * F.col("y")).cast(dec).alias("sty"),
        F.sum(F.col("w").cast(dec) * F.col("y")).cast(dec).alias("swy"),
    )
    det = F.expr(WK_DET)
    coef = lambda num: F.round(  # noqa: E731
        F.when(
            det != 0,
            F.expr(num).cast("double") / det.cast("double"),
        ),
        6,
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        coef(WK_DET_A).alias("intercept"),
        coef(WK_DET_B).alias("slope_per_day"),
        coef(WK_DET_C).alias("weekend_effect"),
    )
