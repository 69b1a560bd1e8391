"""M6 — the plot-data result surface + interactive serving path.

Reference: ``generate_plot_data`` (plot.py:12-162) builds 10 small
frames consumed by the Dash figures, and
``prepare_hourly_aggregated_data`` (process.py:86-113, here
``timeagg.hourly_rollup``) builds the resident hourly rollup that
every interactive callback re-queries
(plot.py:165-364) — the reference's one real performance idea
(materialized pre-aggregation, SURVEY.md §4 O5), which we keep.

Everything here returns DataFrames; ``to_payload`` converts to pandas
at the presentation edge only (the Dash layer's contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.format import ellipsize
from piholelongtermstats_spark.operators import timeagg, topk

WEEKDAY_ORDER = [
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
]


def generate_plot_data(fact: DataFrame, top_k_clients: int = 5) -> dict[str, DataFrame]:
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
            .limit(10)
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
        "client_domain_scatter_df": topk.client_domain_scatter(fact, 5, 10),
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


def to_payload(frames: dict[str, DataFrame]) -> dict:
    """Presentation edge: collect the small result frames to pandas
    (toPandas only here — never mid-pipeline)."""
    return {name: df.toPandas() for name, df in frames.items()}
