"""Top-K / argmax operator family (M2).

Reference patterns: value_counts().idxmax() top-1s (stats.py:55-113),
nlargest top-K (plot.py:29, 56-70), two-key persistent-client
(stats.py:119-146), count-distinct diverse-client (stats.py:424-434).

Semantic decision (SURVEY.md §7 M2): pandas ``idxmax`` tie-breaking is
first-seen — undefined for a distributed engine — so every top-1/top-K
here pins the tie-break to ``ORDER BY cnt DESC, key ASC`` and the
oracle SQL pins the identical order.

Scale notes: groupBy().count() does a partial-aggregated shuffle on the
key; the subsequent top-K is Spark's TakeOrderedAndProject (no second
full sort). Top-1-per-group uses row_number over a window PARTITIONED
by the group key — parallel, never a single-task global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_counts(fact: DataFrame, key: str, k: int, where=None) -> DataFrame:
    """groupBy(key).count() → top-K with pinned tie-break (A2/A3/W6)."""
    df = fact.filter(where) if where is not None else fact
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(k)
    )


def top_clients_per_status(fact: DataFrame) -> DataFrame:
    """Top-1 client within each status bucket (stats.py:60-67).

    One shuffle on (status_type, client), then a per-status_type window
    rank — replaces three filtered value_counts passes.
    """
    counts = fact.groupBy("status_type", "client").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("status_type").orderBy(
        F.col("cnt").desc(), F.col("client").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("status_type", "client", "cnt")
    )


def top_domain_top_client(fact: DataFrame) -> DataFrame:
    """For each status bucket: the top domain AND that domain's top
    client — the reference's two-pass scalar-subquery pattern
    (stats.py:81-113, J2) done as a single rank-based plan.

    Plan: one shuffle on (status_type, domain, client); domain totals
    via a partial re-aggregation; two window ranks. No driver-side
    scalar collection.
    """
    cdc = fact.groupBy("status_type", "domain", "client").agg(
        F.count(F.lit(1)).alias("pair_cnt")
    )
    dom = cdc.groupBy("status_type", "domain").agg(
        F.sum("pair_cnt").alias("domain_cnt")
    )
    w_dom = Window.partitionBy("status_type").orderBy(
        F.col("domain_cnt").desc(), F.col("domain").asc()
    )
    top_dom = dom.withColumn("rn", F.row_number().over(w_dom)).filter(
        F.col("rn") == 1
    ).drop("rn")
    # Broadcast the ≤|statuses|-row top_dom side and restrict cdc to it
    # BEFORE ranking clients: the client window then sorts only the top
    # domains' rows instead of every (status, domain) group, and the
    # broadcast never carries a per-domain relation (the round-1 plan
    # broadcast top_cli — one row per distinct domain — which OOMs at
    # production domain cardinality).
    w_cli = Window.partitionBy("status_type", "domain").orderBy(
        F.col("pair_cnt").desc(), F.col("client").asc()
    )
    return (
        cdc.join(F.broadcast(top_dom), ["status_type", "domain"])
        .withColumn("rn", F.row_number().over(w_cli))
        .filter(F.col("rn") == 1)
        .select(
            "status_type", "domain", "domain_cnt", F.col("client").alias("top_client")
        )
    )


def most_persistent_client(fact: DataFrame) -> DataFrame:
    """(client, domain) pair with most blocked queries (stats.py:119-146, A4)."""
    return (
        fact.filter(F.col("status_type") == "Blocked")
        .groupBy("client", "domain")
        .agg(F.count(F.lit(1)).alias("repeat_attempts"))
        .orderBy(
            F.col("repeat_attempts").desc(), F.col("client").asc(), F.col("domain").asc()
        )
        .limit(1)
    )


def most_diverse_client(fact: DataFrame) -> DataFrame:
    """Client querying the most distinct domains (stats.py:424-434, A9)."""
    return (
        fact.groupBy("client")
        .agg(F.countDistinct("domain").alias("unique_domains_count"))
        .orderBy(F.col("unique_domains_count").desc(), F.col("client").asc())
        .limit(1)
    )


def semi_join_top_clients(fact: DataFrame, k: int = 5) -> DataFrame:
    """Rows of the top-K clients, grouped by (client, status_type) —
    the stacked-bar feed (plot.py:29-35, J1/A14).

    The top-K list is tiny ⇒ broadcast LEFT SEMI join; no shuffle of
    the fact table beyond the final small groupBy.
    """
    topk = top_k_counts(fact, "client", k).select("client")
    return (
        fact.join(F.broadcast(topk), "client", "left_semi")
        .groupBy("client", "status_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def client_domain_scatter(fact: DataFrame, k_clients: int = 5, k_domains: int = 10) -> DataFrame:
    """Two-sided top-K conjunctive filter → (client, domain, status)
    counts (plot.py:88-101)."""
    topc = top_k_counts(fact, "client", k_clients).select("client")
    topd = top_k_counts(fact, "domain", k_domains).select("domain")
    return (
        fact.join(F.broadcast(topc), "client", "left_semi")
        .join(F.broadcast(topd), "domain", "left_semi")
        .groupBy("client", "domain", "status_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
