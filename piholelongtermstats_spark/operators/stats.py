"""M5 — the full stats surface: every scalar of the reference's
``compute_stats`` dict (stats.py:474-528; keys asserted in
tests/test_stats.py:67-291) assembled from shared intermediates.

The reference makes ~40 eager passes over its frame (one per metric
family, with del/gc in between — stats.py:143-144 etc.). Here the
enriched fact table is cached once and the whole surface is produced
by 7 collect round-trips (r3 VERDICT #9: asserted ≤8 in
tests/test_stats_surface.py), each collecting only ranked/aggregated
rows; families with tiny results are UNIONed into one job so their
subplans share the scan:

  J1 global scalars (counts, span, reply stats)     — 1 row
  J2 (day_period × status × client) tops            — ≤9 rows
  J3 (day_period × status × domain [× client]) tops — ≤9 rows
  J4 persistent client ∪ diverse client ∪ uniques   — ≤3 rows
  J5 per-day rollup ∪ per-hour rollup               — days+24 rows
     (weekday averages derive from the per-day rows DRIVER-side —
     exact integer sums, one double division, same IEEE result)
  J6 longest streaks                                — ≤3 rows
  J7 idle gap top-1 ∪ avg gap per status            — ≤3 rows

Every top-1 pins the tie-break (cnt DESC, key ASC) — the pandas
``idxmax`` first-seen behavior is not reproducible in a distributed
engine (SURVEY.md §7 M2 semantic decision).

String formatting (dates, durations — stats.py:17-29, 162-185,
392-400) happens driver-side at the collect edge, never inside
oracle-checked plans.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import sequential


def _fmt_span(ts: dt.datetime | None) -> str:
    """'%-d-%-m-%Y (%H:%M)' (stats.py:17-20)."""
    return ts.strftime("%-d-%-m-%Y (%H:%M)") if ts else "N/A"


def _fmt_date_long(ts: dt.datetime | None) -> str:
    """'%d %B %Y' (stats.py:162-185)."""
    return ts.strftime("%d %B %Y") if ts else "N/A"


def _fmt_duration(seconds: float | None) -> str:
    """'{d}d,{h}h and {m}min' (stats.py:25-29)."""
    if seconds is None:
        return "N/A"
    s = int(seconds)
    return f"{s // 86400}d,{s % 86400 // 3600}h and {s % 3600 // 60}min"


def _fmt_precise(ts: dt.datetime | None) -> str:
    """'%d-%b %Y %H:%M:%S.%f'[:-4] (stats.py:392-400)."""
    return ts.strftime("%d-%b %Y %H:%M:%S.%f")[:-4] if ts else "N/A"


def _top1(rows: list, scope: str, status: str, key: str) -> tuple[Any, int]:
    """Pick the collected top-1 for a (day_period-scope, status bucket)."""
    for r in rows:
        if r["scope"] == scope and r["status_type"] == status:
            return r[key], r["cnt"]
    return "N/A", 0


def _scoped_tops(fact: DataFrame, key: str) -> list:
    """Top-1 `key` per (scope ∈ {All, Day, Night}) × (status ∈
    {Any, Allowed, Blocked}) in ONE job.

    One (day_period, status_type, key) aggregate; the All/Any rollups
    are re-aggregations of that small intermediate, not re-scans
    (the reference filters the raw frame 2×3 times —
    stats.py:215-216, 236-264, 285-314).
    """
    base = fact.groupBy("day_period", "status_type", key).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    variants = []
    for scope_col, status_col in [
        (F.lit("All"), F.lit("Any")),
        (F.lit("All"), F.col("status_type")),
        (F.col("day_period"), F.lit("Any")),
        (F.col("day_period"), F.col("status_type")),
    ]:
        variants.append(
            base.groupBy(
                scope_col.alias("scope"), status_col.alias("status_type"), key
            ).agg(F.sum("cnt").alias("cnt"))
        )
    from functools import reduce

    cube = reduce(lambda a, b: a.unionByName(b), variants)
    w = Window.partitionBy("scope", "status_type").orderBy(
        F.col("cnt").desc(), F.col(key).asc()
    )
    return (
        cube.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .collect()
    )


def compute_stats(fact: DataFrame, timezone: str = "UTC") -> dict[str, Any]:
    """The reference's full stats dict (§2.11 contract).

    ``fact`` is the enriched fact table (sources/events.dns_fact or
    functions/derive.preprocess output). The assembly runs many jobs
    over it, so the caller persists it and owns its release
    (api.run_dashboard does both); unpersisting here would drop the
    caller's cache too, since Spark caches by plan.
    """
    stats: dict[str, Any] = {}

    # J1 — global scalars (stats.py:14-52, 441-455)
    a = F.abs(F.col("reply_time"))
    # conditional counts coalesce to 0: sum() over ZERO rows is NULL
    # (an all-excluded or empty-window run must degrade to zeros, not
    # crash — the reference refuses empty input upstream app.py:158-164,
    # this engine serves the zeros)
    g = fact.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.coalesce(
            F.sum(F.when(F.col("status_type") == "Blocked", 1).otherwise(0)),
            F.lit(0),
        ).alias("bc"),
        F.coalesce(
            F.sum(F.when(F.col("status_type") == "Allowed", 1).otherwise(0)),
            F.lit(0),
        ).alias("ac"),
        F.coalesce(
            F.sum(F.when(F.col("day_period") == "Day", 1).otherwise(0)), F.lit(0)
        ).alias("day_n"),
        F.avg(a).alias("avg_rt"),
        F.max(a).alias("max_rt"),
        F.min(a).alias("min_rt"),
    ).collect()[0]
    n = g["n"]
    stats["n_data_points"] = n
    stats["total_queries"] = n
    stats["min_date"] = _fmt_span(g["min_ts"])
    stats["max_date"] = _fmt_span(g["max_ts"])
    span_s = (g["max_ts"] - g["min_ts"]).total_seconds() if n else None
    stats["data_span_days"] = round(span_s / 86400, 2) if span_s is not None else 0.0
    stats["data_span_str"] = _fmt_duration(span_s)
    stats["blocked_count"] = g["bc"]
    stats["allowed_count"] = g["ac"]
    stats["blocked_pct"] = round(g["bc"] * 100.0 / n, 2) if n else 0.0
    stats["allowed_pct"] = round(g["ac"] * 100.0 / n, 2) if n else 0.0
    # all-NULL reply times → 0.0 (stats.py:452-455, test_stats.py:420-442)
    stats["avg_reply_time"] = round(g["avg_rt"] * 1000, 3) if g["avg_rt"] is not None else 0.0
    stats["max_reply_time"] = round(g["max_rt"] * 1000, 3) if g["max_rt"] is not None else 0.0
    stats["min_reply_time"] = round(g["min_rt"] * 1000, 3) if g["min_rt"] is not None else 0.0

    # J2 — client tops across scopes (stats.py:55-75, 221-234, 270-283)
    ct = _scoped_tops(fact, "client")
    stats["top_client"], _ = _top1(ct, "All", "Any", "client")
    stats["top_allowed_client"], _ = _top1(ct, "All", "Allowed", "client")
    stats["top_blocked_client"], _ = _top1(ct, "All", "Blocked", "client")
    for scope in ("Day", "Night"):
        p = scope.lower()
        stats[f"{p}_top_client"], _ = _top1(ct, scope, "Any", "client")
        stats[f"{p}_top_allowed_client"], _ = _top1(ct, scope, "Allowed", "client")
        stats[f"{p}_top_blocked_client"], _ = _top1(ct, scope, "Blocked", "client")
    stats["day_total_queries"] = g["day_n"]
    stats["night_total_queries"] = n - g["day_n"]

    # J3 — domain tops + each top domain's top client (stats.py:78-113,
    # 236-264, 285-314): one (day_period, status, domain, client) cube.
    cube = fact.groupBy("day_period", "status_type", "domain", "client").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scoped = cube.groupBy(
        F.lit("All").alias("scope"), "status_type", "domain", "client"
    ).agg(F.sum("cnt").alias("cnt")).unionByName(
        cube.select(
            F.col("day_period").alias("scope"), "status_type", "domain", "client", "cnt"
        )
    )
    dom_tot = scoped.groupBy("scope", "status_type", "domain").agg(
        F.sum("cnt").alias("cnt")
    )
    w_dom = Window.partitionBy("scope", "status_type").orderBy(
        F.col("cnt").desc(), F.col("domain").asc()
    )
    top_dom = dom_tot.withColumn("rn", F.row_number().over(w_dom)).filter(
        F.col("rn") == 1
    ).drop("rn")
    w_cli = Window.partitionBy("scope", "status_type", "domain").orderBy(
        F.col("cnt").desc(), F.col("client").asc()
    )
    top_cli = scoped.withColumn("rn", F.row_number().over(w_cli)).filter(
        F.col("rn") == 1
    ).select("scope", "status_type", "domain", F.col("client").alias("top_cli"))
    dt_rows = top_dom.join(
        F.broadcast(top_cli), ["scope", "status_type", "domain"]
    ).collect()

    def dom_stats(prefix: str, scope: str, status: str) -> None:
        dom, cnt = _top1(dt_rows, scope, status, "domain")
        stats[f"{prefix}_domain"] = dom
        stats[f"{prefix}_domain_count"] = cnt
        cli = next(
            (
                r["top_cli"]
                for r in dt_rows
                if r["scope"] == scope and r["status_type"] == status
            ),
            "N/A",
        )
        stats[f"{prefix}_domain_client"] = cli

    dom_stats("top_allowed", "All", "Allowed")
    dom_stats("top_blocked", "All", "Blocked")
    dom_stats("day_top_allowed", "Day", "Allowed")
    dom_stats("day_top_blocked", "Day", "Blocked")
    dom_stats("night_top_allowed", "Night", "Allowed")
    dom_stats("night_top_blocked", "Night", "Blocked")

    # J4 — persistent client ∪ diverse client ∪ uniques in ONE job
    # (stats.py:119-146, 418-439): three ≤1-row subplans with a
    # harmonized (tag, s1, s2, v1, v2) schema share the cached scan.
    pers_q = (
        fact.filter(F.col("status_type") == "Blocked")
        .groupBy("client", "domain")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("client").asc(), F.col("domain").asc())
        .limit(1)
        .select(
            F.lit("pers").alias("tag"),
            F.col("client").alias("s1"),
            F.col("domain").alias("s2"),
            F.col("cnt").alias("v1"),
            F.lit(None).cast("long").alias("v2"),
        )
    )
    div_q = (
        fact.groupBy("client")
        .agg(F.countDistinct("domain").alias("nd"))
        .orderBy(F.col("nd").desc(), F.col("client").asc())
        .limit(1)
        .select(
            F.lit("div").alias("tag"),
            F.col("client").alias("s1"),
            F.lit(None).cast("string").alias("s2"),
            F.col("nd").alias("v1"),
            F.lit(None).cast("long").alias("v2"),
        )
    )
    uniq_q = fact.agg(
        F.countDistinct("domain").alias("ud"), F.countDistinct("client").alias("uc")
    ).select(
        F.lit("uniq").alias("tag"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.col("ud").alias("v1"),
        F.col("uc").alias("v2"),
    )
    j4 = {r["tag"]: r for r in pers_q.unionByName(div_q).unionByName(uniq_q).collect()}
    pers, div, u = j4.get("pers"), j4.get("div"), j4.get("uniq")
    stats["most_persistent_client"] = pers["s1"] if pers else "N/A"
    stats["most_persistent_blocked_domain"] = pers["s2"] if pers else "N/A"
    stats["repeat_attempts"] = pers["v1"] if pers else 0
    stats["most_diverse_client"] = div["s1"] if div else "N/A"
    stats["unique_domains_count"] = div["v1"] if div else 0
    stats["unique_domains"] = u["v1"] if u else 0
    stats["unique_clients"] = u["v2"] if u else 0

    # J5 — per-day rollup ∪ per-hour rollup in ONE job
    # (stats.py:153-206): both are tiny (|days| + 24 rows). Weekday
    # averages derive from the daily rows driver-side — exact integer
    # sums with one double division, the same IEEE value the previous
    # two-level Spark aggregate produced.
    daily_q = fact.groupBy("date", "day_name").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("status_type") == "Blocked", 1).otherwise(0)).alias("blocked"),
        F.sum(F.when(F.col("status_type") == "Allowed", 1).otherwise(0)).alias("allowed"),
    ).select(
        F.lit("daily").alias("tag"),
        F.col("date").alias("ts_k"),
        F.col("day_name").alias("s1"),
        F.col("total").alias("v1"),
        F.col("blocked").alias("v2"),
        F.col("allowed").alias("v3"),
    )
    hour_q = fact.groupBy("hour").agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("hour").alias("tag"),
        F.lit(None).cast("timestamp").alias("ts_k"),
        F.lit(None).cast("string").alias("s1"),
        F.col("hour").alias("v1"),
        F.col("cnt").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    j5 = daily_q.unionByName(hour_q).collect()
    drows = [r for r in j5 if r["tag"] == "daily"]
    hrows = [r for r in j5 if r["tag"] == "hour"]
    for metric, key in (("queries", "v1"), ("blocked", "v2"), ("allowed", "v3")):
        if drows:
            most = max(drows, key=lambda r: (r[key], -r["ts_k"].timestamp()))
            least = min(drows, key=lambda r: (r[key], r["ts_k"].timestamp()))
            stats[f"date_most_{metric}"] = _fmt_date_long(most["ts_k"])
            stats[f"count_most_{metric}"] = most[key]
            stats[f"date_least_{metric}"] = _fmt_date_long(least["ts_k"])
            stats[f"count_least_{metric}"] = least[key]
        else:
            stats[f"date_most_{metric}"] = stats[f"date_least_{metric}"] = "N/A"
            stats[f"count_most_{metric}"] = stats[f"count_least_{metric}"] = 0
    if drows:
        per_day: dict[str, list[int]] = {}
        for r in drows:
            per_day.setdefault(r["s1"], []).append(r["v1"])
        wk = [
            {"day_name": name, "avg_q": float(sum(tot)) / len(tot)}
            for name, tot in per_day.items()
        ]
        most_d = max(wk, key=lambda r: (r["avg_q"], r["day_name"]))
        least_d = min(wk, key=lambda r: (r["avg_q"], r["day_name"]))
        stats["most_active_day"] = most_d["day_name"]
        stats["most_active_day_avg"] = int(most_d["avg_q"])
        stats["least_active_day"] = least_d["day_name"]
        stats["least_active_day_avg"] = int(least_d["avg_q"])
    else:
        stats["most_active_day"] = stats["least_active_day"] = "N/A"
        stats["most_active_day_avg"] = stats["least_active_day_avg"] = 0
    if hrows:
        most_h = max(hrows, key=lambda r: (r["v2"], -r["v1"]))
        least_h = min(hrows, key=lambda r: (r["v2"], r["v1"]))
        stats["most_active_hour"] = int(most_h["v1"])
        stats["avg_queries_most"] = most_h["v2"]
        stats["least_active_hour"] = int(least_h["v1"])
        stats["avg_queries_least"] = least_h["v2"]
    else:
        stats["most_active_hour"] = stats["least_active_hour"] = "N/A"
        stats["avg_queries_most"] = stats["avg_queries_least"] = 0

    # J6 — longest streaks (stats.py:324-366); the STITCHED kernel —
    # identical result (tests pin equality), but no unpartitioned
    # window over the fact table in the one path every dashboard load
    # hits (the global-window variant is the verification reference).
    srows = sequential.longest_streaks_stitched(fact).collect()
    for status in ("Blocked", "Allowed"):
        key = status.lower()
        row = next((r for r in srows if r["status_type"] == status), None)
        stats[f"longest_streak_length_{key}"] = row["streak_len"] if row else 0
        stats[f"longest_streak_date_{key}"] = (
            _fmt_date_long(row["start_ts"]) if row else "N/A"
        )
        stats[f"longest_streak_hour_{key}"] = (
            row["start_ts"].strftime("%H:%M") if row else "N/A"
        )

    # J7 — idle gap top-1 ∪ avg gap per status in ONE job
    # (stats.py:369-408, 382-388)
    gap_q = sequential.idle_gaps_top(fact, 1).select(
        F.lit("gap").alias("tag"),
        F.lit(None).cast("string").alias("status_type"),
        F.col("gap_us").cast("long").alias("v1"),
        F.col("prev_ts").alias("t1"),
        F.col("next_ts").alias("t2"),
        F.lit(None).cast("double").alias("d1"),
    )
    avg_q2 = sequential.avg_gap_per_status(fact).select(
        F.lit("avg").alias("tag"),
        "status_type",
        F.lit(None).cast("long").alias("v1"),
        F.lit(None).cast("timestamp").alias("t1"),
        F.lit(None).cast("timestamp").alias("t2"),
        F.col("avg_gap_sec").alias("d1"),
    )
    j7 = gap_q.unionByName(avg_q2).collect()
    gap = [r for r in j7 if r["tag"] == "gap"]
    if gap:
        stats["max_idle_ms"] = round(gap[0]["v1"] / 1000.0, 3)
        stats["before_gap"] = _fmt_precise(gap[0]["t1"])
        stats["after_gap"] = _fmt_precise(gap[0]["t2"])
    else:
        stats["max_idle_ms"] = 0.0
        stats["before_gap"] = stats["after_gap"] = "N/A"
    grows = [r for r in j7 if r["tag"] == "avg"]
    for status in ("Blocked", "Allowed"):
        row = next((r for r in grows if r["status_type"] == status), None)
        val = row["d1"] if row else None
        stats[f"avg_time_between_{status.lower()}"] = (
            round(val, 2) if val is not None else 0.0
        )

    return stats
