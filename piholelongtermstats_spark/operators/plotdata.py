"""M6 — the plot-data result surface + interactive serving path.

Reference: ``generate_plot_data`` (plot.py:12-162) builds 10 small
frames consumed by the Dash figures, and
``prepare_hourly_aggregated_data`` (process.py:86-113, here
``timeagg.hourly_rollup``) builds the resident hourly rollup that
every interactive callback re-queries
(plot.py:165-364) — the reference's one real performance idea
(materialized pre-aggregation, SURVEY.md §4 O5), which we keep.

``generate_plot_data`` defines the 10 frames as lazy DataFrames.
``to_payload`` is the presentation edge (the Dash layer's contract):
it builds the same frames as pandas from the grouping-set rows that
``stats.compute_stats`` already collected, so a reload pays one more
small aggregate (the scatter) instead of 10 ``toPandas`` calls.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.format import ellipsize
from piholelongtermstats_spark.operators import stats, timeagg, topk

WEEKDAY_ORDER = [
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
]
TOP_CLIENTS = 5


def generate_plot_data(
    fact: DataFrame, top_k_clients: int = TOP_CLIENTS
) -> dict[str, DataFrame]:
    """The 10 plot frames (plot.py:151-162), as lazy DataFrames.

    Domains are ellipsized exactly like the reference's ``shorten``
    UDF (plot.py:26-27) but as a native expression.
    """
    short_dom = ellipsize(F.col("domain")).alias("domain")

    def top_domains(status: str) -> DataFrame:
        return (
            fact.filter(F.col("status_type") == status)
            .select(short_dom)
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("domain").asc())
            .limit(stats.TOP_DOMAINS)
        )

    top_clients = topk.top_k_counts(fact, "client", top_k_clients)
    heat = timeagg.day_hour_heatmap
    return {
        # stacked bar: top-K clients × status (plot.py:29-35)
        "top_clients_stacked": topk.semi_join_top_clients(fact, top_k_clients),
        # top blocked/allowed domains, ellipsized (plot.py:52-70)
        "blocked_df": top_domains("Blocked"),
        "allowed_df": top_domains("Allowed"),
        # daily mean reply time in ms (plot.py:76-82)
        "reply_time_df": timeagg.daily_avg_reply(fact),
        # dropdown inventory (plot.py:151-162)
        "client_list": fact.select("client").distinct(),
        # scatter: top clients × top domains × status (plot.py:88-101)
        "client_domain_scatter_df": topk.client_domain_scatter(
            fact, TOP_CLIENTS, stats.TOP_DOMAINS
        ),
        # day×hour heatmaps ×3 (plot.py:104-139)
        "day_hour_heatmap": heat(fact),
        "blocked_day_hour_heatmap": heat(fact, F.col("status_type") == "Blocked"),
        "allowed_day_hour_heatmap": heat(fact, F.col("status_type") == "Allowed"),
        "top_clients": top_clients,
    }


def filtered_timeseries(rollup: DataFrame, client: str | None = None) -> DataFrame:
    """Interactive callback: per-status hourly series for one client
    (or all), zero-filled against the full hour spine — queries ONLY
    the rollup (plot.py:165-265, the reference's sub-second path).

    The rollup is grouped once, so the spine bounds and the status
    dimension are the whole table's; a client's absent cells sum to
    NULL and fill to 0.
    """
    cnt = F.col("cnt")
    if client is not None:
        cnt = F.when(F.col("client") == client, cnt)
    series = rollup.groupBy("hour_bucket", "status_type").agg(F.sum(cnt).alias("cnt"))
    return timeagg.zero_filled_hours(series, "status_type")


def client_activity(rollup: DataFrame, client: str) -> DataFrame:
    """Interactive callback #2: one client's total hourly activity,
    zero-filled between the client's OWN first and last active hour —
    the reference builds ``pd.date_range(filtered.min(),
    filtered.max())`` from the client-FILTERED frame (plot.py:321-331)
    and never emits zeros outside that span; an absent client yields
    an EMPTY frame (the reference's 'no data' figure, plot.py:297-319),
    not an all-zero spine."""
    series = (
        rollup.filter(F.col("client") == client)
        .groupBy("hour_bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return timeagg.zero_filled_hours(series)


def _frame(columns: dict[str, str], rows: list[tuple]) -> pd.DataFrame:
    """Driver rows as ``toPandas`` gives them: ``columns`` maps each
    name to its dtype (int64, float64, or object for strings)."""
    values = list(zip(*rows)) if rows else [()] * len(columns)
    return pd.DataFrame(
        {c: pd.Series(list(v), dtype=d) for (c, d), v in zip(columns.items(), values)}
    )


def _heatmap(cells: list, key: str) -> pd.DataFrame:
    """day_name × hour pivot of the (day_name, hour) rows' ``key``
    count, as timeagg.day_hour_heatmap: a day appears only if it has a
    row with a nonzero count, and its missing hours read 0."""
    days: dict[str | None, list[int]] = {}
    for r in cells:
        if r[key]:
            hours = days.setdefault(r["day_name"], [0] * 24)
            if r["hour"] is not None:
                hours[r["hour"]] = r[key]
    return _frame(
        {"day_name": "object", **{str(h): "int64" for h in range(24)}},
        [(day, *hours) for day, hours in days.items()],
    )


def to_payload(fact: DataFrame, groups: stats.Groups) -> dict[str, pd.DataFrame]:
    """Presentation edge: the 10 plot frames as pandas, equal to
    ``toPandas`` of generate_plot_data's frames.

    Nine come from ``groups``, the rows compute_stats collected from
    ``fact`` (``Stats.groups``); the scatter is one more aggregate over
    ``fact``, cut to the collected top clients × top domains. The
    stacked bar's Other count is cnt − allowed − blocked, which holds
    because status_type has exactly three values
    (functions/derive.status_type, sources/events.py). Timestamps are
    wall clock in the session time zone, datetime64[ns], as toPandas
    gives them.
    """

    def ranked(cols: tuple, status: str | None = None, k: int = stats.TOP_DOMAINS):
        rows = (
            r for r in groups.rows(*cols) if r["status_type"] == status and r["rn_cnt"] <= k
        )
        return sorted(rows, key=lambda r: r["rn_cnt"])

    clients = groups.rows("client")
    top = ranked(("client",), k=TOP_CLIENTS)
    # a NULL key never matches, as in the semi-joins of the lazy frames
    top_keys = [r["client"] for r in top if r["client"] is not None]
    dom_keys = [r["domain"] for r in ranked(("domain",)) if r["domain"] is not None]
    scatter = (
        fact.filter(F.col("client").isin(top_keys) & F.col("domain").isin(dom_keys))
        .groupBy("client", "domain", "status_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stacked = [
        (r["client"], st, n)
        for r in top
        if r["client"] is not None
        for st, n in (
            ("Allowed", r["allowed"]),
            ("Blocked", r["blocked"]),
            ("Other", r["cnt"] - r["allowed"] - r["blocked"]),
        )
        if n
    ]
    per_date = groups.rows("date", "day_name")
    tz = fact.sparkSession.conf.get("spark.sql.session.timeZone")
    reply = _frame({"avg_reply_ms": "float64"}, [(r["avg_reply_ms"],) for r in per_date])
    # collected timestamps are naive local time; .timestamp() undoes that
    dates = pd.Series(
        [round(r["date"].timestamp() * 1e6) if r["date"] else None for r in per_date],
        dtype="float64",
    )
    reply.insert(
        0, "date",
        pd.to_datetime(dates, unit="us", utc=True).dt.tz_convert(tz).dt.tz_localize(None),
    )
    cells = groups.rows("day_name", "hour")
    domains = {"domain": "object", "cnt": "int64"}
    short = ("status_type", "short_domain")
    return {
        "top_clients_stacked": _frame(
            {"client": "object", "status_type": "object", "cnt": "int64"}, stacked
        ),
        "blocked_df": _frame(
            domains, [(r["short_domain"], r["cnt"]) for r in ranked(short, "Blocked")]
        ),
        "allowed_df": _frame(
            domains, [(r["short_domain"], r["cnt"]) for r in ranked(short, "Allowed")]
        ),
        "reply_time_df": reply,
        "client_list": _frame({"client": "object"}, [(r["client"],) for r in clients]),
        "client_domain_scatter_df": scatter.toPandas(),
        "day_hour_heatmap": _heatmap(cells, "cnt"),
        "blocked_day_hour_heatmap": _heatmap(cells, "blocked"),
        "allowed_day_hour_heatmap": _heatmap(cells, "allowed"),
        "top_clients": _frame(
            {"client": "object", "cnt": "int64"}, [(r["client"], r["cnt"]) for r in top]
        ),
    }
