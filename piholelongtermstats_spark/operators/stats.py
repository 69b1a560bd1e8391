"""M5 — the full stats surface: every scalar of the reference's
``compute_stats`` dict (stats.py:474-528; keys asserted in
tests/test_stats.py:67-291) from one collect, which also carries the
rows the plot payload is built from (plotdata.to_payload).

The reference makes ~40 eager passes over its frame (one per metric
family, with del/gc in between — stats.py:143-144 etc.). Here every
family is one grouping set of a single aggregate over the enriched
fact, told apart by ``grouping_id()``:

  ()                                  global scalars (counts, span, reply stats)
  client                              top client; every row reaches the
                                      driver: client_list, top_clients,
                                      top_clients_stacked
  day_period+client,                  top client per scope (Day/Night)
  status_type+client,                   × status (Any/Allowed/Blocked)
  day_period+status_type+client
  status_type+domain+client,          top domain and its top client per
  day_period+status_type+domain+client  scope × status; persistent pair
  domain+client                       most diverse client
  domain                              unique domains (clients: the client
                                      set); top 10: the scatter's domains
  date+day_name                       per-day rollup (weekday averages derive
                                      driver-side: exact integer sums, one
                                      double division); reply_time_df
  hour                                per-hour rollup
  status_type+short_domain            top 10 ellipsized domains per status:
                                      blocked_df, allowed_df
  day_name+hour                       the three day × hour heatmaps

Unique and diverse counts are row counts over sets, not countDistinct,
which would add a second Expand to the aggregate. One rank pass picks
every top-1 and the top-10 domain lists. The driver receives the top-1
rows, those lists, every client row, and the date, hour and
day × hour sets; ``Groups`` indexes them once. The streak and gap
kernels (operators/sequential.py) join the same collect.

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

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.format import ellipsize
from piholelongtermstats_spark.operators import sequential, timeagg

# Grouping columns in grouping_id() bit order, most significant first.
_DIMS = (
    "day_period", "status_type", "domain", "short_domain", "client",
    "date", "day_name", "hour",
)
_SETS = (
    (),
    ("client",),
    ("day_period", "client"),
    ("status_type", "client"),
    ("day_period", "status_type", "client"),
    ("status_type", "domain", "client"),
    ("day_period", "status_type", "domain", "client"),
    ("domain", "client"),
    ("domain",),
    ("date", "day_name"),
    ("hour",),
    ("status_type", "short_domain"),
    ("day_name", "hour"),
)
# Sets whose every row is collected; the domain sets keep their top
# TOP_DOMAINS rows by rn_cnt (the plot payload's top-10 lists).
_WHOLE_SETS = (("client",), ("date", "day_name"), ("hour",), ("day_name", "hour"))
_TOP_N_SETS = (("domain",), ("status_type", "short_domain"))
TOP_DOMAINS = 10
# The global row on empty input, where grouping sets emit no () row.
_NO_ROWS = {
    "cnt": 0, "min_ts": None, "max_ts": None, "blocked": 0, "allowed": 0,
    "day_n": 0, "avg_rt": None, "max_rt": None, "min_rt": None,
}


def _gid(*cols: str) -> int:
    """grouping_id() of the grouping set ``cols``: one bit per
    rolled-up dimension."""
    n = len(_DIMS)
    return sum(1 << (n - 1 - i) for i, d in enumerate(_DIMS) if d not in cols)


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


def _ranked_groups(fact: DataFrame) -> DataFrame:
    """The grouping-sets aggregate, cut to the rows the dict and the
    plot payload read.

    Each (gid, day_period, status_type) partition is one scope ×
    status of one set (a rolled-up column is NULL). Per partition:
    rn_cnt ranks (cnt DESC, client, domain, short_domain) — top client,
    the persistent (client, domain) pair, or a top-N domain list;
    rn_dom ranks the domain total first — top domain, then that
    domain's top client; rn_div ranks each client's distinct-domain
    count nd. n_clients/n_domains count the partition's non-NULL keys
    (countDistinct ignores NULL too).
    """
    status = F.col("status_type")
    rt = F.abs(F.col("reply_time"))
    fact = fact.withColumn("short_domain", ellipsize(F.col("domain")))
    groups = fact.groupingSets([list(s) for s in _SETS], *_DIMS).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum(F.when(status == "Blocked", 1).otherwise(0)).alias("blocked"),
        F.sum(F.when(status == "Allowed", 1).otherwise(0)).alias("allowed"),
        F.sum(F.when(F.col("day_period") == "Day", 1).otherwise(0)).alias("day_n"),
        F.avg(rt).alias("avg_rt"),
        F.max(rt).alias("max_rt"),
        F.min(rt).alias("min_rt"),
        timeagg.avg_reply_ms(),
    )
    # every window partitions by `part` plus at most one key, so one
    # exchange on `part` serves them all
    part = ("gid", "day_period", "status_type")
    w = Window.partitionBy(*part)
    cnt, dom_cnt, nd = (F.col(c).desc() for c in ("cnt", "dom_cnt", "nd"))
    return (
        groups.withColumn("dom_cnt", F.sum("cnt").over(Window.partitionBy(*part, "domain")))
        .withColumn("nd", F.count("domain").over(Window.partitionBy(*part, "client")))
        .withColumn("n_clients", F.count("client").over(w))
        .withColumn("n_domains", F.count("domain").over(w))
        .withColumn(
            "rn_cnt",
            F.row_number().over(w.orderBy(cnt, "client", "domain", "short_domain")),
        )
        .withColumn("rn_dom", F.row_number().over(w.orderBy(dom_cnt, "domain", cnt, "client")))
        .withColumn("rn_div", F.row_number().over(w.orderBy(nd, "client")))
        .filter(
            F.col("gid").isin(*(_gid(*s) for s in _WHOLE_SETS))
            | (
                F.col("gid").isin(*(_gid(*s) for s in _TOP_N_SETS))
                & (F.col("rn_cnt") <= TOP_DOMAINS)
            )
            | (F.least("rn_cnt", "rn_dom", "rn_div") == 1)
        )
    )


class Groups:
    """The collected rows, indexed in one pass: each grouping set's
    rows, the rank-1 row of every partition, and the kernel rows."""

    def __init__(self, rows: list[Row]):
        self._sets: dict[int, list[Row]] = {}
        self._top: dict[tuple, Row] = {}
        self._kernels: dict[tuple, Row] = {}
        for r in rows:
            if r["kernel"] is not None:
                self._kernels.setdefault((r["kernel"], r["status_type"]), r)
                continue
            gid, dp, st = r["gid"], r["day_period"], r["status_type"]
            self._sets.setdefault(gid, []).append(r)
            for rank in ("rn_cnt", "rn_dom", "rn_div"):
                if r[rank] == 1:
                    self._top[(gid, rank, dp, st)] = r

    def rows(self, *cols: str) -> list[Row]:
        """The collected rows of grouping set ``cols``, in no order."""
        return self._sets.get(_gid(*cols), [])

    def top1(self, rank: str, cols: tuple, dp: str | None = None, st: str | None = None):
        """Rank-1 row of set ``cols`` in partition (dp, st), or None."""
        return self._top.get((_gid(*cols), rank, dp, st))

    def kernel(self, name: str, status: str | None = None):
        """The ``name`` kernel's row for ``status``, or None."""
        return self._kernels.get((name, status))


class Stats(dict):
    """The stats dict. ``groups`` holds the collected rows it was built
    from, which plotdata.to_payload turns into the plot frames."""

    def __init__(self, values: dict[str, Any], groups: Groups):
        super().__init__(values)
        self.groups = groups


def compute_stats(fact: DataFrame) -> Stats:
    """The reference's full stats dict (§2.11 contract), as a Stats
    that also keeps the collected grouping-set rows for the plot
    payload.

    ``fact`` is the enriched fact table (sources/events.dns_fact or
    functions/derive.preprocess output). The aggregate and the kernels
    each scan it, so the caller persists it and owns its release
    (api.run_dashboard does both); unpersisting here would drop the
    caller's cache too, since Spark caches by plan.
    """
    # streaks (stats.py:324-366) use the STITCHED kernel — identical
    # result (tests pin equality), but no unpartitioned window over the
    # fact table; gaps: stats.py:369-408, 382-388
    frame = _ranked_groups(fact)
    for kernel, out in (
        ("streak", sequential.longest_streaks_stitched(fact)),
        ("gap", sequential.idle_gaps_top(fact, 1)),
        ("avg_gap", sequential.avg_gap_per_status(fact)),
    ):
        frame = frame.unionByName(
            out.withColumn("kernel", F.lit(kernel)), allowMissingColumns=True
        )
    groups = Groups(frame.collect())
    stats: dict[str, Any] = {}

    # global scalars (stats.py:14-52, 441-455); an empty window serves
    # zeros (the reference refuses empty input upstream app.py:158-164)
    g = groups.top1("rn_cnt", ()) or _NO_ROWS
    n = g["cnt"]
    stats["n_data_points"] = n
    stats["total_queries"] = n
    stats["min_date"] = _fmt_span(g["min_ts"])
    stats["max_date"] = _fmt_span(g["max_ts"])
    span_s = (g["max_ts"] - g["min_ts"]).total_seconds() if n else None
    stats["data_span_days"] = round(span_s / 86400, 2) if span_s is not None else 0.0
    stats["data_span_str"] = _fmt_duration(span_s)
    stats["blocked_count"] = g["blocked"]
    stats["allowed_count"] = g["allowed"]
    stats["blocked_pct"] = round(g["blocked"] * 100.0 / n, 2) if n else 0.0
    stats["allowed_pct"] = round(g["allowed"] * 100.0 / n, 2) if n else 0.0
    # all-NULL reply times → 0.0 (stats.py:452-455, test_stats.py:420-442)
    for key, col in (("avg", "avg_rt"), ("max", "max_rt"), ("min", "min_rt")):
        stats[f"{key}_reply_time"] = round(g[col] * 1000, 3) if g[col] is not None else 0.0
    stats["day_total_queries"] = g["day_n"]
    stats["night_total_queries"] = n - g["day_n"]

    # client tops (stats.py:55-75, 221-234, 270-283), domain tops and
    # each top domain's top client (stats.py:78-113, 236-264, 285-314)
    for prefix, dp in (("", None), ("day_", "Day"), ("night_", "Night")):
        scope = ("day_period",) if dp else ()
        for infix, st in (("", None), ("allowed_", "Allowed"), ("blocked_", "Blocked")):
            status = ("status_type",) if st else ()
            r = groups.top1("rn_cnt", scope + status + ("client",), dp, st)
            stats[f"{prefix}top_{infix}client"] = r["client"] if r else "N/A"
            if st:
                r = groups.top1("rn_dom", scope + status + ("domain", "client"), dp, st)
                key = f"{prefix}top_{infix}domain"
                stats[key] = r["domain"] if r else "N/A"
                stats[f"{key}_count"] = r["dom_cnt"] if r else 0
                stats[f"{key}_client"] = r["client"] if r else "N/A"

    # persistent client, diverse client, uniques (stats.py:119-146, 418-439)
    pers = groups.top1("rn_cnt", ("status_type", "domain", "client"), st="Blocked")
    stats["most_persistent_client"] = pers["client"] if pers else "N/A"
    stats["most_persistent_blocked_domain"] = pers["domain"] if pers else "N/A"
    stats["repeat_attempts"] = pers["cnt"] if pers else 0
    div = groups.top1("rn_div", ("domain", "client"))
    stats["most_diverse_client"] = div["client"] if div else "N/A"
    stats["unique_domains_count"] = div["nd"] if div else 0
    doms = groups.top1("rn_cnt", ("domain",))
    clients = groups.top1("rn_cnt", ("client",))
    stats["unique_domains"] = doms["n_domains"] if doms else 0
    stats["unique_clients"] = clients["n_clients"] if clients else 0

    # per-day and per-hour rollups (stats.py:153-206)
    drows = groups.rows("date", "day_name")
    hrows = groups.rows("hour")
    for metric, key in (("queries", "cnt"), ("blocked", "blocked"), ("allowed", "allowed")):
        if drows:
            most = max(drows, key=lambda r: (r[key], -r["date"].timestamp()))
            least = min(drows, key=lambda r: (r[key], r["date"].timestamp()))
            stats[f"date_most_{metric}"] = _fmt_date_long(most["date"])
            stats[f"count_most_{metric}"] = most[key]
            stats[f"date_least_{metric}"] = _fmt_date_long(least["date"])
            stats[f"count_least_{metric}"] = least[key]
        else:
            stats[f"date_most_{metric}"] = stats[f"date_least_{metric}"] = "N/A"
            stats[f"count_most_{metric}"] = stats[f"count_least_{metric}"] = 0
    if drows:
        per_day: dict[str, list[int]] = {}
        for r in drows:
            per_day.setdefault(r["day_name"], []).append(r["cnt"])
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
        most_h = max(hrows, key=lambda r: (r["cnt"], -r["hour"]))
        least_h = min(hrows, key=lambda r: (r["cnt"], r["hour"]))
        stats["most_active_hour"] = int(most_h["hour"])
        stats["avg_queries_most"] = most_h["cnt"]
        stats["least_active_hour"] = int(least_h["hour"])
        stats["avg_queries_least"] = least_h["cnt"]
    else:
        stats["most_active_hour"] = stats["least_active_hour"] = "N/A"
        stats["avg_queries_most"] = stats["avg_queries_least"] = 0

    for status in ("Blocked", "Allowed"):
        key = status.lower()
        row = groups.kernel("streak", status)
        stats[f"longest_streak_length_{key}"] = row["streak_len"] if row else 0
        stats[f"longest_streak_date_{key}"] = (
            _fmt_date_long(row["start_ts"]) if row else "N/A"
        )
        stats[f"longest_streak_hour_{key}"] = (
            row["start_ts"].strftime("%H:%M") if row else "N/A"
        )
    gap = groups.kernel("gap")
    if gap:
        stats["max_idle_ms"] = round(gap["gap_us"] / 1000.0, 3)
        stats["before_gap"] = _fmt_precise(gap["prev_ts"])
        stats["after_gap"] = _fmt_precise(gap["next_ts"])
    else:
        stats["max_idle_ms"] = 0.0
        stats["before_gap"] = stats["after_gap"] = "N/A"
    for status in ("Blocked", "Allowed"):
        row = groups.kernel("avg_gap", status)
        val = row["avg_gap_sec"] if row else None
        stats[f"avg_time_between_{status.lower()}"] = (
            round(val, 2) if val is not None else 0.0
        )

    return Stats(stats, groups)
