"""Sequential / window operators (M4) — the order-dependent 20%.

Reference: idle gaps via ``ts.diff()`` (stats.py:515, 369-408), average
time between blocked/allowed queries (stats.py:382-388), and
gaps-and-islands streak detection (stats.py:506-515 flags,
stats.py:324-366 aggregation).

Total-order caveat (SURVEY.md §2.6): a naive ``Window.orderBy(ts)``
with no partitioning funnels the whole table through one task. The
operators here avoid it:

  - idle gaps: lag within date partitions (parallel — date is derived
    from ts so partition order ⊂ global order), plus cross-midnight
    gaps from a per-date first/last summary (one row per date — tiny),
    unioned in;
  - streaks: a run's key is (status, count of other-status events
    before it), built from per-date row numbers plus prefix sums of
    per-(date, status) and per-(month, status) counts — the only
    unpartitioned window orders ≤3 rows per month;
  - average gap per status: the gaps of one status telescope to
    last ts − first ts, so it is one aggregate with no window at all.

Each yields exactly the global-order result. ``longest_streaks`` keeps
the global-order window as the verification reference.

Event order is pinned to (ts, event_id): timestamps can tie, and an
unpinned order would be nondeterministic under oracle hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def consecutive_gaps(df: DataFrame) -> DataFrame:
    """(prev_ts, next_ts, gap_us) for every consecutive pair in global
    (ts, event_id) order — distributed via date-partition + boundary
    stitch.

    gap_us is exact integer microseconds (both engines compute
    epoch-microsecond BIGINT subtraction — no float drift).
    """
    ev = df.select(F.col("date").alias("_d"), "ts", "event_id")

    w_day = Window.partitionBy("_d").orderBy("ts", "event_id")
    within = (
        ev.withColumn("prev_ts", F.lag("ts").over(w_day))
        .filter(F.col("prev_ts").isNotNull())
        .select("prev_ts", F.col("ts").alias("next_ts"))
    )

    per_day = ev.groupBy("_d").agg(
        F.min(F.struct("ts", "event_id")).alias("first_ev"),
        F.max(F.struct("ts", "event_id")).alias("last_ev"),
    )
    # one row per date — the single-task window is over a tiny summary
    w_days = Window.orderBy("_d")
    boundary = (
        per_day.withColumn("prev_last", F.lag("last_ev").over(w_days))
        .filter(F.col("prev_last").isNotNull())
        .select(
            F.col("prev_last.ts").alias("prev_ts"),
            F.col("first_ev.ts").alias("next_ts"),
        )
    )
    both = within.unionByName(boundary)
    return both.select(
        "prev_ts",
        "next_ts",
        (F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("prev_ts"))).alias(
            "gap_us"
        ),
    )


def idle_gaps_top(fact: DataFrame, k: int = 10) -> DataFrame:
    """Top-K largest idle gaps with both endpoints (stats.py:369-408, W4).

    The reference finds idxmax then positionally reads rows idx-1/idx
    (stats.py:390-402); carrying prev_ts through the lag makes both
    endpoints one row — no positional lookup.
    """
    return consecutive_gaps(fact).orderBy(
        F.col("gap_us").desc(), F.col("next_ts").asc()
    ).limit(k)


def avg_gap_per_status(fact: DataFrame) -> DataFrame:
    """Average seconds between consecutive same-status queries
    (stats.py:382-388, A17), for Blocked and Allowed.

    The n − 1 gaps of one status telescope to last ts − first ts, so
    the average is (max µs − min µs) / (n − 1): one aggregate, one row
    per status (Blocked, then Allowed), NULL below 2 events. The span
    is an exact integer, so the double equals the summed-gaps one.
    """
    us = F.unix_micros(F.col("ts"))

    def avg_gap(status: str) -> Column:
        mine = F.col("status_type") == status
        n = F.count(F.when(mine, 1))
        span = F.max(F.when(mine, us)) - F.min(F.when(mine, us))
        avg = F.round(span.cast("double") / (n - 1) / 1000000.0, 6)
        return F.struct(
            F.lit(status).alias("status_type"),
            F.when(n >= 2, avg).alias("avg_gap_sec"),
        )

    return fact.agg(F.inline(F.array(avg_gap("Blocked"), avg_gap("Allowed"))))


def longest_streaks(fact: DataFrame) -> DataFrame:
    """Longest consecutive run per status bucket: (status_type,
    streak_len, start_ts) — gaps-and-islands (stats.py:324-366 +
    flags at stats.py:506-515, W3/W5).

    Classic idiom: change-flag via lag → running sum over an
    unbounded-preceding frame → run-id groupBy → top-1 per status with
    pinned tie-break (len DESC, start_ts ASC).

    Scale note: the run-id assignment needs a total order, so this
    formulation funnels a 3-column projection through one task. It is
    kept as the verification reference for ``longest_streaks_stitched``
    (the distributed variant used by the registry) — tests assert the
    two agree row-for-row (SURVEY.md §7 M4).
    """
    ev = fact.select("ts", "event_id", "status_type")
    w = Window.orderBy("ts", "event_id")
    chg = F.when(
        F.lag("status_type").over(w).isNull()
        | (F.lag("status_type").over(w) != F.col("status_type")),
        1,
    ).otherwise(0)
    run_id = F.sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = (
        ev.withColumn("chg", chg)
        .withColumn("run_id", run_id)
        .groupBy("run_id", "status_type")
        .agg(F.count(F.lit(1)).alias("streak_len"), F.min("ts").alias("start_ts"))
    )
    w_top = Window.partitionBy("status_type").orderBy(
        F.col("streak_len").desc(), F.col("start_ts").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("status_type", "streak_len", "start_ts")
    )


def _others_before(order: str, *part: str) -> Column:
    """Over (part…, order, status_type, n) count rows: the events of
    other statuses at earlier ``order`` values of the partition."""
    upto = Window.partitionBy(*part).orderBy(order)  # RANGE frame: peers included
    at = Window.partitionBy(*part, order)
    own = Window.partitionBy(*part, "status_type").orderBy(order)
    n = F.col("n")
    return F.sum(n).over(upto) - F.sum(n).over(at) - (F.sum(n).over(own) - n)


def longest_streaks_stitched(fact: DataFrame) -> DataFrame:
    """Distributed longest_streaks: identical result, no global-order
    window over the fact table — nor over the per-date summary.

    Two events of one status share a run exactly when no event of
    another status lies between them, so a run's key is (status, number
    of other-status events before it). That number is the sum of three
    parallel parts:

      1. within the date: row_number over the date minus row_number
         over (date, status);
      2. earlier dates of the month: prefix sums of the per-(date,
         status) counts, partitioned by month;
      3. earlier months: prefix sums of the per-(month, status) counts
         — the one unpartitioned window, ≤3 rows per month.

    The offsets (≤3 rows per date) broadcast-join onto the events; a
    group by (status, key) yields the runs, then top-1 per status with
    the pinned tie-break (len DESC, start_ts ASC) like the oracle.
    """
    ev = fact.select(F.col("date").alias("_d"), "ts", "event_id", "status_type")
    day = Window.partitionBy("_d").orderBy("ts", "event_id")
    day_status = Window.partitionBy("_d", "status_type").orderBy("ts", "event_id")
    local = ev.select(
        "_d",
        "status_type",
        "ts",
        (F.row_number().over(day) - F.row_number().over(day_status)).alias("_k"),
    )
    # the counts reach the offsets in one linear chain (each month row
    # carries its dates through the month level): a second consumer of
    # the counts would scan the fact again, as Spark does not reuse an
    # exchange over a cached relation
    days = ev.groupBy(
        F.trunc("_d", "month").alias("_m"), "_d", "status_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    months = days.select(
        "_m", "_d", "status_type", "n", _others_before("_d", "_m").alias("_dk")
    ).groupBy("_m", "status_type").agg(
        F.sum("n").alias("n"), F.collect_list(F.struct("_d", "_dk")).alias("_days")
    )
    offsets = months.select(
        "status_type", "_days", _others_before("_m").alias("_mk")
    ).select("status_type", "_mk", F.inline("_days"))
    runs = (
        local.join(F.broadcast(offsets), ["_d", "status_type"])
        .groupBy("status_type", F.col("_k") + F.col("_dk") + F.col("_mk"))
        .agg(F.count(F.lit(1)).alias("streak_len"), F.min("ts").alias("start_ts"))
    )
    w_top = Window.partitionBy("status_type").orderBy(
        F.col("streak_len").desc(), F.col("start_ts").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("status_type", "streak_len", "start_ts")
    )


def status_transitions(fact: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each client's status
    sequence: (prev_status, status, cnt, pct) for every consecutive
    pair in per-client (ts, event_id) order.

    Distributed the same way as ``consecutive_gaps``: lag within
    (client, date) partitions — parallel, since date order refines the
    client's global order — plus cross-midnight pairs stitched from a
    per-(client, date) first/last summary (one row per client-day,
    tiny). No window ever spans a full client history in one task.

    pct is row-normalized (out of each prev_status) as one double
    division of exact integer counts, rounded to 6 identically in both
    engines.
    """
    ev = fact.select(
        "client", F.col("date").alias("_d"), "ts", "event_id", "status_type"
    )
    w_day = Window.partitionBy("client", "_d").orderBy("ts", "event_id")
    within = (
        ev.withColumn("prev_status", F.lag("status_type").over(w_day))
        .filter(F.col("prev_status").isNotNull())
        .select("prev_status", "status_type")
    )
    order_key = F.struct("ts", "event_id")
    day_sum = ev.groupBy("client", "_d").agg(
        F.min_by("status_type", order_key).alias("first_status"),
        F.max_by("status_type", order_key).alias("last_status"),
    )
    w_cli = Window.partitionBy("client").orderBy("_d")
    cross = (
        day_sum.withColumn("prev_status", F.lag("last_status").over(w_cli))
        .filter(F.col("prev_status").isNotNull())
        .select("prev_status", F.col("first_status").alias("status_type"))
    )
    mat = (
        within.unionByName(cross)
        .groupBy("prev_status", F.col("status_type").alias("status"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Row total as a window sum over the ≤ |status|² matrix: ONE
    # consumer of the fact-wide work, so no materialization and no
    # join — the prev_status partition frame sums the same exact
    # integers the old groupBy+broadcast-join total did (r12, guide
    # §2.4: the total is derived data, not a second aggregation).
    w_tot = Window.partitionBy("prev_status")
    return mat.select(
        "prev_status",
        "status",
        "cnt",
        F.round(
            F.col("cnt").cast("double") * 100.0
            / F.sum("cnt").over(w_tot).cast("double"),
            6,
        ).alias("pct"),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def debounce_summary(fact: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Burst-collapse suppression audit: collapse each client's events
    that arrive within ``gap`` of the previous event in the burst
    (chain rule — a burst extends while consecutive gaps stay <= gap)
    and report per client how many events a keep-first-of-burst
    debounce policy retains.

    Implementation is native ``session_window`` with the debounce gap
    — burst merging runs inside the JVM aggregation machinery (the
    scale path; no per-client ordered window at all). The oracle
    proves the semantics equivalence against the classic lag → gap
    flag → running-sum gaps-and-islands formulation.

    Output: (client, n_events, n_kept, kept_pct) — kept_pct one double
    division of exact integers, rounded to 6.
    """
    bursts = (
        fact.groupBy(F.session_window("ts", gap).alias("w"), "client")
        .agg(F.count(F.lit(1)).alias("n_in_burst"))
    )
    return (
        bursts.groupBy("client")
        .agg(
            F.sum("n_in_burst").alias("n_events"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .select(
            "client",
            "n_events",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") * 100.0
                / F.col("n_events").cast("double"),
                6,
            ).alias("kept_pct"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


def sliding_peak_30min(fact: DataFrame, k: int = 10) -> DataFrame:
    """Top-k clients by PEAK 30-minute load: for every event, the
    count of that client's events in the trailing 30-minute window
    (event-time RANGE frame over epoch microseconds — exact BIGINT
    bounds, ties at the same instant are frame-peers on both
    engines); per client, the max such count with the EARLIEST
    achieving instant pinned as the tie-break; top-k by
    (peak DESC, client ASC).

    This is the burst-detection primitive (rate limiting, abuse
    scoring) expressed as a declarative window — no sessionization
    state, no driver loop.

    Scale: the RANGE window partitions by client — each client's
    events sort locally within its shuffle partition; nothing global.
    The per-client argmax is a second window over the SAME partition
    key (no extra shuffle — Catalyst reuses the hash partitioning),
    and the final top-k is TakeOrderedAndProject.
    """
    from pyspark.sql import Window as W

    us = F.unix_micros(F.col("ts"))
    win = (
        W.partitionBy("client")
        .orderBy(us.cast("long"))
        .rangeBetween(-(30 * 60 * 1_000_000 - 1), 0)
    )
    cnts = fact.select(
        "client", "ts", F.count(F.lit(1)).over(win).cast("long").alias("win_cnt")
    )
    pick = W.partitionBy("client").orderBy(
        F.col("win_cnt").desc(), F.col("ts").asc()
    )
    peaks = (
        cnts.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("client", F.col("win_cnt").alias("peak"), F.col("ts").alias("peak_at"))
    )
    return peaks.orderBy(F.col("peak").desc(), F.col("client").asc()).limit(k)


def interarrival_burstiness(fact: DataFrame, k: int = 10) -> DataFrame:
    """Top-k burstiest clients by the coefficient of variation of
    inter-arrival gaps (CV = σ/μ; CV ≈ 1 is Poisson, ≫1 is bursty) —
    plus the exact gap moments that define it.

    Gaps are epoch-microsecond BIGINT lags per client (ordered by
    (ts, event_id) — the consecutive_gaps total-order convention);
    n/Σg are BIGINT and Σg² DECIMAL(38,0) (a month-long gap squared
    is ~7·10²⁴ — past BIGINT by itself), so CV's inputs are exact.
    Population form: σ/μ = √(n·Σg² − (Σg)²) / Σg — one IEEE sqrt and
    one division over exact moments, engine-identical. Clients need
    ≥ 2 gaps and a positive gap total.

    Scale: one client-partitioned lag window, one map-side-combined
    aggregation, TakeOrdered top-k.
    """
    from pyspark.sql import Window as W

    us = F.unix_micros(F.col("ts")).cast("long")
    w = W.partitionBy("client").orderBy("ts", "event_id")
    gaps = (
        fact.select("client", "ts", "event_id")
        .withColumn("g", us - F.lag(us).over(w))
        .filter(F.col("g").isNotNull())
    )
    m = gaps.groupBy("client").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("sum_g"),
        F.sum(
            F.col("g").cast("decimal(19,0)") * F.col("g").cast("decimal(19,0)")
        ).cast("decimal(38,0)").alias("ssq_g"),
    )
    nd = F.col("n_gaps").cast("double")
    sd = F.col("sum_g").cast("double")
    qd = F.col("ssq_g").cast("double")
    cv = F.sqrt(nd * qd - sd * sd) / sd
    out = m.filter((F.col("n_gaps") >= 2) & (F.col("sum_g") > 0)).select(
        "client",
        "n_gaps",
        "sum_g",
        # Σg² exceeds 2⁵³ routinely; emit the exact DECIMAL as its
        # decimal STRING so no engine/pandas bridge can round it.
        F.col("ssq_g").cast("string").alias("ssq_g"),
        F.round(cv, 6).alias("cv"),
    )
    return out.orderBy(F.col("cv").desc(), F.col("client").asc()).limit(k)
