"""Skew mitigation: salted two-stage aggregation.

A DNS log is Zipf-skewed on both entity dimensions — a handful of
domains (ad trackers) and clients (the NAT gateway) dominate. A
plain groupBy(domain).count() at 100 TB sends every row for the hot
key to ONE reducer; AQE's skew-join splitting helps joins but not
hash aggregation with a single hot group.

The classic fix is salting: append a random-ish salt to the key,
pre-aggregate (key, salt) — spreading the hot key over `n_salt`
reducers — then re-aggregate by key. Counts and sums re-aggregate
losslessly (sum of partials); so do min/max. Averages must be
carried as (sum, count) pairs. The salt here is deterministic
(crc32 of the row's event id mod n_salt) so results are stable
run-to-run and under the DuckDB oracle.

Note Spark's map-side partial aggregation already absorbs most
in-partition skew for simple counts; salting matters when the
per-partition distinct-key set is too large for the partial hash map
(spill) or when the hot key's partials still overwhelm one reducer.
It composes with — not replaces — AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, key: str, salt_src: str, n_salt: int = 32
) -> DataFrame:
    """groupBy(key).count() with a deterministic two-stage salted
    plan: (key, salt) partial counts → per-key sum. Identical result
    to the direct aggregation; the hot key's rows fan out over
    `n_salt` stage-1 reducers."""
    salt = (F.crc32(F.col(salt_src).cast("string")) % n_salt).alias("_salt")
    partial = df.select(F.col(key), salt).groupBy(key, "_salt").agg(
        F.count(F.lit(1)).alias("_c")
    )
    return partial.groupBy(key).agg(F.sum("_c").cast("long").alias("cnt"))


def key_skew_report(df: DataFrame, col: str, top_k: int = 10) -> DataFrame:
    """One-row skew diagnostic for a grouping key: total rows, distinct
    keys, the hottest key's count and share, and the top-``top_k``
    concentration — the measurement that decides whether a key needs
    salting / AQE skew handling before it burns a 100 TB job.

    Shape: one map-side-combined groupBy over the key (the same
    aggregation any query on this key would run), then everything else
    operates on the KEY HISTOGRAM (|distinct keys| rows): the top-k is
    TakeOrderedAndProject with a (cnt desc, key) deterministic
    tie-break, the totals a single aggregate. Shares are one division
    each, rounded to 6 — the integer counts are the contract, the
    shares the display.
    """
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    topk = (
        counts.orderBy(F.desc("cnt"), F.asc(col))
        .limit(top_k)
        .agg(F.sum("cnt").alias("topk_cnt"))
    )
    return totals.crossJoin(F.broadcast(topk)).select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("max_cnt").cast("long").alias("max_cnt"),
        F.round(
            F.col("max_cnt").cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("max_share"),
        F.col("topk_cnt").cast("long").alias("topk_cnt"),
        F.round(
            F.col("topk_cnt").cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("topk_share"),
    )


def domain_tail_hill(fact: DataFrame, k: int = 50) -> DataFrame:
    """One row: the Hill tail-index estimate over the top-``k`` domain
    popularity counts — "HOW heavy is the head of the key
    distribution?", the quantitative companion of domain_skew_report's
    concentration shares (α̂ ≈ 1 is Zipf; smaller α̂ = heavier tail =
    saltier joins).

    With the top k+1 counts x₍₁₎ ≥ … ≥ x₍ₖ₊₁₎ under the pinned
    (cnt DESC, domain ASC) total order,
        hill_mean = (1/k)·Σᵢ₌₁..ₖ ln(x₍ᵢ₎ / x₍ₖ₊₁₎),   α̂ = 1/hill_mean.
    The k+1 counts are collected into ONE sorted array (struct sort on
    (−cnt, domain) — integer keys, deterministic under count ties) and
    the Σ is a left fold over the slice in that order, mirrored by
    list_reduce in the oracle; each term is one double division and
    one ln (the dp/renyi2 transcendental budget: ln over a
    correctly-rounded operand, k per query, never per event row).
    Fewer than k+1 distinct domains → NULL estimates (no tail to
    measure), n_domains still reported.

    Scale: one map-side-combined domain aggregate, one
    TakeOrderedAndProject k+1 cut, one 51-element array fold. Nothing
    event-sized moves after the first partial agg.
    """
    top = (
        fact.groupBy("domain")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("domain").asc())
        .limit(k + 1)
    )
    n_dom = fact.agg(
        F.count_distinct("domain").cast("long").alias("n_domains")
    )
    arr = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("cnt")).alias("neg"),
                    F.col("domain").alias("domain"),
                    F.col("cnt").alias("cnt"),
                )
            )
        ).alias("a")
    )
    xk1 = F.element_at(F.col("a"), k + 1).getField("cnt").cast("double")
    fold = F.aggregate(
        F.slice(F.col("a"), 1, k),
        F.lit(0.0),
        lambda acc, x: acc + F.log(x.getField("cnt").cast("double") / xk1),
    )
    ok = F.size(F.col("a")) == k + 1
    hill = fold / F.lit(float(k))
    return (
        arr.join(F.broadcast(n_dom))
        .select(
            "n_domains",
            F.lit(int(k)).cast("long").alias("k"),
            F.when(ok, xk1).cast("long").alias("x_kplus1"),
            F.round(F.when(ok, hill), 6).alias("hill_mean"),
            F.round(F.when(ok & (fold > 0), 1.0 / hill), 6).alias(
                "alpha_hat"
            ),
        )
    )
