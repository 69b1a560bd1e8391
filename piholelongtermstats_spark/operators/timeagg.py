"""Time-dimension aggregates (M3): daily/hourly rollups, weekday
two-level average, pivot heatmaps, hour-spine zero-fill, reply-time
metrics.

Reference: stats.py:153-206 (daily/hourly/weekday), process.py:86-113
(hourly rollup — the reference's materialized view), plot.py:76-139
(reply-time series, heatmaps), plot.py:213-225 (hour-spine reindex).

Float determinism: averages are computed as exact decimal sums divided
once (sum(decimal)::double / count), so Spark and the DuckDB oracle
produce bit-identical doubles regardless of aggregation order — a
double += reduction is order-dependent and would hash-mismatch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def daily_counts(fact: DataFrame) -> DataFrame:
    """Per-date total/blocked/allowed counts (stats.py:153-186, A5)."""
    return fact.groupBy("date").agg(
        F.count(F.lit(1)).alias("total_cnt"),
        F.sum(F.when(F.col("status_type") == "Blocked", 1).otherwise(0)).alias(
            "blocked_cnt"
        ),
        F.sum(F.when(F.col("status_type") == "Allowed", 1).otherwise(0)).alias(
            "allowed_cnt"
        ),
    )


def hourly_histogram(fact: DataFrame) -> DataFrame:
    """Per hour-of-day counts (stats.py:188-194, A6)."""
    return fact.groupBy("hour").agg(F.count(F.lit(1)).alias("cnt"))


def weekday_avg(fact: DataFrame) -> DataFrame:
    """Average daily query count per weekday (stats.py:196-206, A7).

    Two-level aggregate: per (date, day_name) counts, then the mean of
    those counts per day_name. The mean is sum(long)/count — exact sum,
    single division ⇒ deterministic double.
    """
    daily = fact.groupBy("date", "day_name").agg(F.count(F.lit(1)).alias("cnt"))
    return daily.groupBy("day_name").agg(
        F.round(F.sum("cnt").cast("double") / F.count(F.lit(1)), 6).alias("avg_queries")
    )


def _hour_bucket() -> Column:
    """The one hour bucketing of event time, shared by the rollup and
    every hourly series built from the fact."""
    return F.date_trunc("HOUR", F.col("ts")).alias("hour_bucket")


def hourly_rollup(fact: DataFrame) -> DataFrame:
    """The (hour-bucket, status_type, client) pre-aggregate —
    the reference's resident materialized view (process.py:100-104,
    A12) that serves every interactive callback.

    At scale this is the table you PERSIST (date-partitioned parquet);
    every dashboard query then reads the rollup, never the fact table
    (SURVEY.md §4 O5).
    """
    return fact.groupBy(_hour_bucket(), "status_type", "client").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def zero_filled_hours(series: DataFrame, *dims: str) -> DataFrame:
    """Zero-fill an hourly series against its hour spine × dims (J3,
    plot.py:213-225 and 321-331): every hour from the series' first to
    its last ``hour_bucket``, crossed with every value of each dim, and
    ``cnt`` 0 where the series has no row (or a NULL ``cnt``).

    ``series`` is grouped by (hour_bucket, *dims) with a BIGINT ``cnt``
    column. One global aggregate folds it into its bounds, one value
    set per dim and the list of its rows. One generator emits the
    spine cells with ``cnt`` 0 followed by those rows, and a hash
    aggregate sums ``cnt`` per cell — linear in the spine, where a
    per-cell MAP lookup scans the whole map. The generator's output is
    one partition, so the sum adds no exchange, and there is no join.
    An empty series yields no rows.
    """
    folded = series.agg(
        F.min("hour_bucket").alias("_lo"),
        F.max("hour_bucket").alias("_hi"),
        *[F.collect_set(d).alias(d) for d in dims],
        F.collect_list(F.struct("hour_bucket", *dims, "cnt")).alias("_rows"),
    )
    cells = F.transform(
        F.sequence("_lo", "_hi", F.expr("INTERVAL 1 HOUR")),
        lambda h: F.struct(h.alias("hour_bucket")),
    )
    for d in dims:
        cells = F.flatten(
            F.transform(cells, lambda c: F.transform(d, lambda v: c.withField(d, v)))
        )
    cells = F.transform(cells, lambda c: c.withField("cnt", F.lit(0).cast("long")))
    return (
        folded.select(F.inline(F.concat(cells, "_rows")))
        .groupBy("hour_bucket", *dims)
        .agg(F.sum("cnt").alias("cnt"))
    )


def hour_spine_zerofill(fact: DataFrame) -> DataFrame:
    """Hourly per-status counts of the fact, zero-filled over the hour
    spine × status dimension (plot.py:213-225, J3)."""
    series = fact.groupBy(_hour_bucket(), "status_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return zero_filled_hours(series, "status_type")


def day_hour_heatmap(fact: DataFrame, where=None) -> DataFrame:
    """day_name × hour pivot count matrix, 0-filled (plot.py:104-139, A16).

    Native pivot with an explicit value list (so the plan is static and
    the output schema deterministic). Weekday ordering is presentation
    (plot.py:104-112) — applied at the serving edge, not here.
    """
    df = fact.filter(where) if where is not None else fact
    return (
        df.groupBy("day_name")
        .pivot("hour", list(range(24)))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def reply_time_stats(fact: DataFrame) -> DataFrame:
    """avg/max/min of |reply_time| in ms (stats.py:446-451, A10/F11/F12).

    The reference drops NaNs then takes abs (stats.py:446-449); Spark
    aggregates are null-skipping so the semantics match. Average uses
    the exact-decimal-sum shape; all-NULL input → NULLs here, mapped to
    the reference's 0.0 at the stats-assembly edge (stats.py:452-455).
    """
    a = F.abs(F.col("reply_time"))
    return fact.agg(
        F.round(
            F.sum(a.cast("decimal(18,2)")).cast("double")
            / F.count("reply_time")
            * 1000,
            3,
        ).alias("avg_reply_ms"),
        F.round(F.max(a) * 1000, 3).alias("max_reply_ms"),
        F.round(F.min(a) * 1000, 3).alias("min_reply_ms"),
    )


def slowest_domains(fact: DataFrame, k: int = 5) -> DataFrame:
    """Domains by mean reply_time, slowest first (stats.py:457-467, A11).

    No abs here — faithful to the reference. All-NULL groups produce
    NULL means and sort last (desc_nulls_last; SURVEY.md pins this
    semantic, the oracle uses DESC NULLS LAST).
    """
    return (
        fact.groupBy("domain")
        .agg(
            F.round(
                F.sum(F.col("reply_time").cast("decimal(18,2)")).cast("double")
                / F.count("reply_time"),
                6,
            ).alias("avg_reply_time")
        )
        .orderBy(F.col("avg_reply_time").desc_nulls_last(), F.col("domain").asc())
        .limit(k)
    )


def avg_reply_ms() -> Column:
    """Mean reply_time in ms of a group: an exact decimal sum divided
    once, so every plan that aggregates it gets the same double."""
    return F.round(
        F.sum(F.col("reply_time").cast("decimal(18,2)")).cast("double")
        / F.count("reply_time")
        * 1000,
        3,
    ).alias("avg_reply_ms")


def daily_avg_reply(fact: DataFrame) -> DataFrame:
    """Per-date mean reply_time in ms (plot.py:76-82, A15)."""
    return fact.groupBy("date").agg(avg_reply_ms())


def merge_rollup(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental maintenance of the per-date count rollup: merge an
    existing rollup with the rollup of newly-arrived events by summing
    the count columns per date — COUNT/SUM are self-mergeable, so the
    refresh cost is O(|rollup| + |new events|), never a rescan of
    history. (The batch twin of streaming/sink.py's keyed upsert; at
    100 TB `old` is the stored rollup table and only the delta dates'
    rows change.) Column set must match daily_counts."""
    cols = [c for c in old.columns if c != "date"]
    return (
        old.unionByName(delta)
        .groupBy("date")
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def ffill_client_hourly(
    fact: DataFrame, clients: tuple[str, ...] = ("1", "2", "3")
) -> DataFrame:
    """Per-client hourly series with FORWARD-FILL: for each selected
    client and every hour of the corpus span, the observed hourly avg
    reply time if the client was active that hour, else the last
    observed value carried forward (NULL before first observation) —
    the standard time-series gap-carry the zero-fill spine family
    (J3) cannot express.

    Plan shape: the spine is hours × |clients| (bounded, broadcast);
    the carry window partitions by CLIENT and orders the spine rows —
    at 100 TB every client fills independently in parallel, and the
    window runs over |hours| rows per client, never raw events.
    avg = exact sum / count, ONE division per observed cell (NOTES.md
    float policy); carried cells copy the value bit-for-bit."""
    sel = fact.filter(F.col("client").isin(*clients))
    hourly = (
        sel.filter(F.col("reply_time").isNotNull())
        .groupBy("client", _hour_bucket())
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            # decimal sum → exact accumulation in ANY order, then ONE
            # division (the daily_avg_reply technique) — a raw double
            # sum would diverge from the oracle by ulps
            F.round(
                F.sum(F.col("reply_time").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_reply"),
        )
    )
    bounds = fact.agg(
        F.date_trunc("HOUR", F.min("ts")).alias("lo"),
        F.date_trunc("HOUR", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_bucket")
    )
    cdim = fact.sparkSession.createDataFrame(
        [(c,) for c in clients], "client string"
    )
    grid = spine.crossJoin(F.broadcast(cdim)).join(
        F.broadcast(hourly), ["client", "hour_bucket"], "left"
    )
    w = (
        Window.partitionBy("client")
        .orderBy("hour_bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "client",
        "hour_bucket",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        F.last("avg_reply", ignorenulls=True).over(w).alias("avg_reply_ffill"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def hourly_ohlc_reply(fact: DataFrame) -> DataFrame:
    """OHLC resampling of reply_time into hourly bars: (hour_ts, n,
    open, high, low, close) — the financial-bars shape (first / max /
    min / last per bucket) over the event stream.

    open/close are argmin/argmax by the canonical (ts, event_id)
    total order via min_by/max_by — NO window function and therefore
    no per-bucket sort: one partial-aggregable shuffle on the hour
    key computes all four legs (min_by/max_by combine by comparing
    carried keys, so map-side partial aggregation applies). The
    oracle derives the same bars from row_number windows — two
    formulations, one relation. Values are carried raw doubles (no
    arithmetic), so the hash comparison is exact.
    """
    key = F.struct("ts", "event_id")
    return (
        fact.filter(F.col("reply_time").isNotNull())
        .groupBy(F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("reply_time", key).alias("open"),
            F.max("reply_time").alias("high"),
            F.min("reply_time").alias("low"),
            F.max_by("reply_time", key).alias("close"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def daily_trend(fact: DataFrame) -> DataFrame:
    """OLS trend of the daily query-count series: one row of
    (n_days, slope, intercept, r2) — regression via exact-integer
    sufficient statistics.

    x = days since the first active date (BIGINT), y = that day's
    count (BIGINT). n, Σx, Σy, Σxy, Σx², Σy² are exact integer sums,
    so slope / intercept / r² are each ONE double division of exact
    BIGINTs (closed forms: (nΣxy−ΣxΣy)/(nΣx²−(Σx)²),
    (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²), num²/(denx·deny)) rounded to 6 —
    deterministic across engines, same policy as client_daily_spikes.

    Scale: the fact collapses to one row per day first (partial-agg
    shuffle), the min-date is a 1-row broadcast, and the six sums are
    one more partial agg over the tiny daily relation. BIGINT
    headroom: |n·Σxy| < 2^63 up to ~10¹² events/day over 10⁴ days;
    past that widen the sums to DECIMAL(38,0) — expression shape
    unchanged (the embedding_dim_stats convention).
    """
    daily = fact.groupBy("date").agg(F.count(F.lit(1)).alias("y"))
    d0 = daily.agg(F.min("date").alias("d0"))
    xy = daily.join(F.broadcast(d0)).select(
        F.datediff("date", "d0").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")

    def _ratio(numer, denom):
        # degenerate series (n < 2, or zero variance) has no defined
        # slope/r² — NULL, via a NULLIF-shaped guard mirrored in the
        # oracle (ANSI Spark raises on /0 where DuckDB returns inf)
        d = F.when(denom != 0, denom.cast("double"))
        return F.round(numer.cast("double") / d, 6)

    return s.select(
        F.col("n").alias("n_days"),
        _ratio(num, denx).alias("slope"),
        _ratio(
            F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy"), denx
        ).alias("intercept"),
        _ratio(num * num, denx * deny).alias("r2"),
    )


def cusum_changepoint(fact: DataFrame) -> DataFrame:
    """One-sided upward CUSUM change-point scan over the daily count
    series: one row of (n_days, max_cusum, cusum_norm, peak_date).

    CUSUM with reset, s_i = max(0, s_{i-1} + (y_i - mean)), is not a
    prefix sum — but it has a windows-only identity: with
    P_i = Σ_{t<=i}(n·y_t − Σy)  (n-scaled so the mean never divides),
    s_i = P_i − min(0, min_{j<=i} P_j). Two running windows (sum +
    min) over the per-date summary replace the sequential fold.
    Everything is exact BIGINT; cusum_norm = max_cusum / n is the one
    double division (Σ(y−ȳ) units), rounded to 6. peak_date is the
    EARLIEST date attaining the max (min_by on exact integers).

    Scale: the fact collapses to one row per day first; the
    unpartitioned windows order only the tiny daily relation (rows =
    #dates — the documented-safe window class, cf. longest_streaks).
    BIGINT headroom: |P| <= n·Σy, safe past 10⁹ events over 10⁴ days.
    """
    daily = fact.groupBy("date").agg(F.count(F.lit(1)).alias("y"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    scanned = (
        daily.join(F.broadcast(tot))
        .withColumn("p", F.sum(F.col("n") * F.col("y") - F.col("sy")).over(w))
        .withColumn("minp", F.least(F.lit(0), F.min("p").over(w)))
        .withColumn("s", F.col("p") - F.col("minp"))
    )
    return scanned.agg(
        F.max("n").alias("n_days"),
        F.max("s").alias("max_cusum"),
        F.round(
            F.max("s").cast("double")
            / F.when(F.max("n") != 0, F.max("n").cast("double")),
            6,
        ).alias("cusum_norm"),
        F.min_by("date", F.struct(-F.col("s"), F.col("date"))).alias(
            "peak_date"
        ),
    )


def weekday_chi2(fact: DataFrame) -> DataFrame:
    """Chi-square goodness-of-fit of query volume against a uniform
    day-of-week model: (n, chi2_num, chi2, dof).

    χ² = Σ_{i=1..7} (O_i − n/7)² / (n/7) = Σ(7·O_i − n)² / (7·n) —
    the numerator Σ(7·O_i − n)² is EXACT BIGINT (all seven categories
    included, absent weekdays zero-filled via the fixed spine), and
    χ² is the one double division, rounded to 6. dof = 6.

    Scale: one partial-agg shuffle to 7 rows, then a 7-row broadcast
    join against the spine. BIGINT headroom: (7·O)² safe to ~4·10⁸
    events per weekday; widen to DECIMAL(38,0) past that.
    """
    spine = fact.sparkSession.createDataFrame(
        [("Monday",), ("Tuesday",), ("Wednesday",), ("Thursday",),
         ("Friday",), ("Saturday",), ("Sunday",)],
        "day_name string",
    )
    obs = fact.groupBy("day_name").agg(F.count(F.lit(1)).alias("o"))
    filled = spine.join(F.broadcast(obs), "day_name", "left").select(
        F.coalesce(F.col("o"), F.lit(0)).cast("long").alias("o")
    )
    tot = filled.agg(F.sum("o").alias("n"))
    dev = (F.lit(7) * F.col("o") - F.col("n"))
    return (
        filled.join(F.broadcast(tot))
        .agg(
            F.max("n").alias("n"),
            F.sum(dev * dev).alias("chi2_num"),
            F.round(
                F.sum(dev * dev).cast("double")
                / F.when(
                    F.max("n") != 0, (F.lit(7) * F.max("n")).cast("double")
                ),
                6,
            ).alias("chi2"),
        )
        .withColumn("dof", F.lit(6).cast("long"))
    )


def twap_reply_daily(fact: DataFrame) -> DataFrame:
    """Per-day TIME-weighted average reply time next to the plain
    (count-weighted) mean — the irregular-sampling correction every
    telemetry average needs: a burst of 1000 cheap lookups in one
    second should not drown the slow steady-state the service spent
    the rest of the day in.

    Left-constant interpolation: each reply value holds from its
    event until the NEXT reply event of the same day, weighted by
    that interval in exact microseconds; the day's last event carries
    no interval (standard TWAP endpoint convention). Days with one
    reply event report NULL twap.

    Exactness: weights are BIGINT µs, values the quantized BIGINT
    µ-grid; Σ(r·Δt) accumulates in DECIMAL(38,0) (10¹¹ value ×
    8.6·10¹⁰ µs/day × any event count passes 2⁶³); twap and mean are
    each ONE rounded division. All windows partition by date — never
    a global event order.
    """
    m = fact.filter(F.col("reply_time").isNotNull()).select(
        "date",
        "ts",
        "event_id",
        F.round(F.col("reply_time") * 1000).cast("long").alias("r"),
    )
    w = Window.partitionBy("date").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    dec = "decimal(38,0)"
    seg = m.select(
        "date",
        "r",
        (
            F.unix_micros(nxt) - F.unix_micros(F.col("ts"))
        ).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    per = seg.groupBy("date").agg(
        F.sum((F.col("r").cast(dec) * F.col("dt_us"))).alias("num"),
        F.sum("dt_us").cast("long").alias("den_us"),
    )
    plain = m.groupBy("date").agg(
        F.count(F.lit(1)).cast("long").alias("n_replies"),
        F.sum("r").cast("long").alias("sum_r"),
    )
    out = plain.join(per, "date", "left")
    twap = F.when(
        F.col("den_us") > 0,
        F.col("num").cast("double") / F.col("den_us").cast("double"),
    )
    mean = F.col("sum_r").cast("double") / F.col("n_replies").cast("double")
    return out.select(
        "date",
        "n_replies",
        F.coalesce(F.col("den_us"), F.lit(0)).alias("span_us"),
        F.round(mean, 6).alias("mean_q"),
        F.round(twap, 6).alias("twap_q"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def broken_trend_fit(fact: DataFrame) -> DataFrame:
    """One row: piecewise ("broken-stick") linear trend split at the
    retrospective CUSUM change-point — did the trend CHANGE at the
    detected break, and how well does each regime fit a line?

    The break anchor is the EARLIEST argmax of |P_i| with
    P_i = Σ_{t≤i}(n·y_t − Σy) — the classic retrospective CUSUM
    estimator (Page 1954/Hinkley 1970 mean-shift form; NOT the
    reset-CUSUM of cusum_changepoint, whose peak lands at the series
    END for sustained shifts — the wrong place to split a
    regression). P_n = 0 identically, so the anchor is always
    interior and both segments are nonempty: A = days ≤ anchor
    (``break_date``), B = days after. Each segment gets the
    daily_trend_slope OLS kernel: slope and r² from exact BIGINT
    sufficient statistics, each reported value one fixed IEEE
    expression; a < 2-day segment reports NULLs (NULLIF-guarded).

    Scale: the daily relation drives everything; the CUSUM window
    and the two segment aggregates all run on day-cardinality rows.
    """
    # dates-sized fan-out input materialized once (r12, guide §2.4):
    # daily feeds tot, the CUSUM scan, and the segment relation —
    # each would otherwise re-run the fact-wide daily aggregation.
    daily = fact.groupBy("date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    ).localCheckpoint(eager=True)
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.min("date").alias("d0"),
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    scanned = (
        daily.join(F.broadcast(tot))
        .withColumn("p", F.sum(F.col("n") * F.col("y") - F.col("sy")).over(w))
    )
    tau = scanned.agg(
        F.min_by("date", F.struct(-F.abs(F.col("p")), F.col("date"))).alias(
            "break_date"
        )
    )
    seg = (
        daily.join(F.broadcast(tot))
        .join(F.broadcast(tau))
        .select(
            F.when(F.col("date") <= F.col("break_date"), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("seg"),
            F.datediff("date", "d0").cast("long").alias("x"),
            "y",
            F.col("break_date").alias("break_date"),
        )
    )
    stats = seg.groupBy("seg").agg(
        F.max("break_date").alias("break_date"),
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        # ≤2 rows consumed by BOTH segment filters below — materialize
        # once so each doesn't re-run the CUSUM + segment aggregation
        # (r12, guide §2.4).
    ).localCheckpoint(eager=True)
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.round(
        num.cast("double")
        / F.when(dx != 0, dx.cast("double")),
        6,
    )
    r2 = F.round(
        (num.cast("double") * num.cast("double"))
        / F.when(
            (dx != 0) & (dy != 0), dx.cast("double") * dy.cast("double")
        ),
        6,
    )
    per = stats.select("seg", "break_date", "m", slope.alias("sl"), r2.alias("r2"))
    a = per.filter(F.col("seg") == "a").select(
        F.col("m").alias("n_a"),
        F.col("sl").alias("slope_a"),
        F.col("r2").alias("r2_a"),
    )
    b = per.filter(F.col("seg") == "b").select(
        "break_date",
        F.col("m").alias("n_b"),
        F.col("sl").alias("slope_b"),
        F.col("r2").alias("r2_b"),
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    out = (
        n_days.crossJoin(F.broadcast(b))
        .join(F.broadcast(a), how="left")
    )
    return out.select(
        "n_days",
        "break_date",
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        "slope_a",
        "r2_a",
        "n_b",
        "slope_b",
        "r2_b",
    )


def trimmed_mean_reply_daily(fact: DataFrame, trim_ppm: int = 100_000) -> DataFrame:
    """Per-day 10%-trimmed mean of reply time — the robust center the
    plain daily_avg_reply series lacks (one slow resolver minute drags
    a day's mean; the trimmed mean ignores the tails entirely):
    (date, n, n_kept, trimmed_mean_ms) ordered by date.

    Values are quantized once to the integer ms grid (the _reply_q
    convention); per date, the bottom and top ⌊n·trim_ppm/10⁶⌋ ranks
    are dropped and the mean of the kept ranks is computed from the
    VALUE HISTOGRAM in closed form — for a value v with count c and
    inclusive cumulative rank cum, the kept multiplicity is
    min(cum, hi) − max(cum − c, lo) clamped at 0 (lo/hi the rank
    cut bounds). No per-event ordering at any scale; the only window
    runs per (date) over distinct ms values (value-domain-bounded,
    quantize further via exact_group_quantiles' quantize_to argument
    if the grid itself ever explodes).

    Σ v·kept accumulates in DECIMAL(38,0) (internal only); the mean
    is the one final division, rounded to 6 — engine-identical.
    """
    dec = "decimal(38,0)"
    m = fact.filter(F.col("reply_time").isNotNull()).select(
        "date", F.round(F.col("reply_time") * 1000).cast("long").alias("r")
    )
    hist = m.groupBy("date", "r").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = (
        Window.partitionBy("date")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = hist.groupBy("date").agg(F.sum("c").cast("long").alias("n"))
    ranked = hist.join(tot, "date").select(
        "date",
        "r",
        "c",
        "n",
        F.sum("c").over(w).cast("long").alias("cum"),
    )
    lo = F.expr(f"n * {trim_ppm} DIV 1000000")
    hi = F.col("n") - lo
    kept = F.greatest(
        F.least(F.col("cum"), hi) - F.greatest(F.col("cum") - F.col("c"), lo),
        F.lit(0),
    )
    out = ranked.groupBy("date").agg(
        F.max("n").alias("n"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(F.col("r").cast(dec) * kept).cast(dec).alias("s_kept"),
    )
    return out.select(
        "date",
        "n",
        "n_kept",
        F.round(
            F.col("s_kept").cast("double") / F.col("n_kept").cast("double"), 6
        ).alias("trimmed_mean_ms"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
