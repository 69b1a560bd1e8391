"""TPC-H-shaped join suite: all 22 canonical query shapes over the
lineitem / orders / part / supplier / customer / nation / region star
schema, plus the bucketed co-located join and the pricing doubling
proof.

Money columns are DECIMAL on both sides; ``_DEC`` pins the DuckDB
cast so both engines round the same exact decimal sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.plans.registry import register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.parquet import load_table, union_all


# ---------------------------------------------------------------------------
# TPC-H-shaped queries — exercise join/agg operators on the star schema
# (the reference has no explicit joins, SURVEY.md §2.4; these prove the
# engine's join surface at scale: broadcast dims, shuffled fact joins)
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-aggregate groupBy with
    map-side partial aggregation (the canonical A1/A2 shape at scale)."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc_price = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_unshipped_orders",
    """
SELECT l_orderkey, o_orderdate,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → broadcast customer into
    orders, shuffle join to lineitem, grouped revenue, top-10.

    Only the filtered CUSTOMER side is broadcast-hinted: the
    orders⨝customer product is O(|orders|) (BUILDING is ~1/5 of
    customers), so pinning a broadcast there OOMs executors at 100×.
    The fact-fact edge (lineitem ⨝ orders) is left to Catalyst/AQE —
    small at low SF (static BHJ), sort-merge or AQE-converted at
    scale. Guarded by test_plan_properties.py (hint audit)."""
    ensure_session_defaults(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "returned_item_customers",
    """
SELECT c_custkey, c_name, n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: customers who returned the most revenue in a
    window. Aggregate-then-join: revenue is grouped per custkey BEFORE
    the customer/nation dims attach, so the dim join's left side
    shrinks from |filtered lineitem| to |customers with returns|;
    the 6-month orders slice joins lineitem UNHINTED (billions of rows
    at 100 TB even filtered — Catalyst broadcasts it when its size
    estimate allows, AQE converts at runtime otherwise); global top-20
    compiles to TakeOrderedAndProject."""
    ensure_session_defaults(spark)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-07-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(revenue).alias("_rev"))
    )
    dims = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name")
    )
    return (
        rev.join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("_rev").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "region_nation_revenue",
    """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
)
def q_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: nation/region broadcast-hinted (tiny,
    always safe); customer⨝dims and orders⨝that are UNHINTED — with no
    date filter the orders side is ~40% of ALL orders (ASIA+EUROPE),
    so a pinned broadcast there is the canonical 100×-OOM. Catalyst
    picks BHJ at low SF from size estimates; at scale the fact edges
    go sort-merge (or AQE skew/broadcast-converts at runtime)."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    dims = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders.join(dims, F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "pricing_scale_2x",
    """
WITH li2 AS (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM li2
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 at 2× fact volume (lineitem ∪ lineitem, uncached) —
    the doubling methodology (dedup_scale_2x / streaks_scale_2x)
    extended to the partial-agg tier: exact DECIMAL sums and counts
    double, averages are invariant, and the oracle recomputes the
    doubled input directly. Map-side partial aggregation is what makes
    the 2× input cost ~2× map work and an IDENTICAL shuffle size (6
    groups × partials) — the property that holds at any scale-up."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    li2 = union_all(li, li)
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc_price = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return (
        li2.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (r5): the bucketing tier (sources/
# bucketing.py) gets an oracle-checked registry entry, not just plan
# tests. The one-time bucketed write pays the orderkey shuffle at
# layout time; the recorded join then runs with NO Exchange on either
# fact-sized side — the physical design for fact⋈fact at 100 TB. The
# oracle recomputes the same revenue rollup from the flat files.
# ---------------------------------------------------------------------------

_BUCKETED_READY: dict[tuple, tuple] = {}


def _ensure_bucketed_orderkey(spark: SparkSession, sf_dir: str) -> tuple:
    """Write lineitem/orders bucketed by orderkey (8 buckets, sorted)
    once per (application, sf_dir); external paths keep the data in a
    deterministic tmp location, the in-memory catalog carries the
    bucket spec. Table names and paths carry an abspath digest —
    basename alone would let two same-named sf dirs clobber each
    other's tables while the first's memo still points at them."""
    import hashlib
    import os
    import re
    import tempfile

    from piholelongtermstats_spark.sources import bucketing

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BUCKETED_READY:
        return _BUCKETED_READY[key]
    ap = os.path.abspath(sf_dir.rstrip("/"))
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(ap))
    # The tag carries the applicationId as well as the sf-dir hash:
    # the on-disk path is shared host state, and two CONCURRENT
    # sessions (e.g. a parity run next to the pytest suite) writing
    # the same path race on each other's _temporary cleanup
    # (observed: TASK_WRITE_FAILED/chmod-on-missing-file, r11). Keyed
    # per app, concurrent sessions build side-by-side tables.
    app = re.sub(
        r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId
    )[-12:]
    tag = f"{tag}_{hashlib.md5(ap.encode()).hexdigest()[:8]}_{app}"
    li_t, ord_t = f"phlts_li_bucketed_{tag}", f"phlts_ord_bucketed_{tag}"
    root = os.path.join(tempfile.gettempdir(), "phlts_bucketed", tag)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    for df, t in ((li, li_t), (orders, ord_t)):
        bucketing.write_bucketed(
            df, t, ["l_orderkey"], 8, ["l_orderkey"],
            path=os.path.join(root, t),
        )
    _BUCKETED_READY[key] = (li_t, ord_t)
    return li_t, ord_t


@register(
    "bucketed_join_revenue",
    """
SELECT date_trunc('month', o_orderdate) AS order_month,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)
def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue off the BUCKETED lineitem⋈orders join: both
    sides pre-bucketed by orderkey ⇒ SortMergeJoin with no Exchange
    on either side (tests/test_scale_layout.py pins the no-Exchange
    property; this entry pins the RESULT against the flat-file
    oracle). The month rollup after the join is the only shuffle."""
    from piholelongtermstats_spark.sources import bucketing

    ensure_session_defaults(spark)
    li_t, ord_t = _ensure_bucketed_orderkey(spark, sf_dir)
    joined = bucketing.colocated_join(spark, li_t, ord_t, ["l_orderkey"])
    price = F.col("l_extendedprice").cast(_DEC)
    rev = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    ).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# r7 — TPC-H Q4/Q16-shaped additions: EXISTS semi-join and
# NOT-IN anti-join + multi-key distinct count
# ---------------------------------------------------------------------------


@register(
    "order_priority_counts",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: orders in a quarter having at least one
    late-shipping lineitem (EXISTS), counted by priority.

    The EXISTS compiles to a LEFT SEMI join on the orderkey equality
    with the shipdate inequality as a residual join condition — the
    fact side streams through once and duplicate matches never
    materialize (semi-join short-circuits per order). Fact-fact edge,
    so no broadcast hint (same policy as top_unshipped_orders): AQE
    picks the strategy from runtime stats."""
    ensure_session_defaults(spark)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


@register(
    "supplier_part_counts",
    """
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
""",
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct suppliers per (brand, size) slice,
    excluding a brand and suppliers below the account-balance floor.

    The NOT IN is a LEFT ANTI join against the filtered supplier dim
    (broadcast — suppliers are dimension-sized at any SF; the exclusion
    list is a fraction of that); part is the other broadcast dim. The
    lineitem bridge provides the part-supplier pairs (this schema has
    no partsupp table); COUNT(DISTINCT) runs as the standard two-phase
    expand/partial-agg — keys are (brand, size, suppkey), bounded and
    unskewed."""
    ensure_session_defaults(spark)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# TPC-H Q7-shaped volume shipping: revenue flowing between two nations
# by ship year — a 5-way join tree (lineitem ⋈ orders ⋈ customer ⋈
# supplier ⋈ nation ×2) with the nation pair filtered on the broadcast
# dims and both fact edges left to Catalyst/AQE (the Q5 lesson: never
# pin a broadcast on an orders-derived relation).
# ---------------------------------------------------------------------------

_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year
"""


@register("nation_volume_shipping", _Q7_SQL)
def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.session import ensure_session_defaults
    from piholelongtermstats_spark.sources.parquet import load_table

    ensure_session_defaults(spark)
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.withColumnRenamed("n_name", "cust_nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .select("c_custkey", "cust_nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.withColumnRenamed("n_name", "supp_nation").withColumnRenamed(
                    "n_nationkey", "sn_key"
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", "supp_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# TPC-H Q8-shaped market share: NATION_1's share of PROMO-part revenue
# in the ASIA customer market by order year — an 8-relation join tree.
# Only true dims (nation, region) are broadcast-hinted; part, supplier,
# orders, customer edges are left to Catalyst/AQE (part and supplier
# scale with the corpus). The share is one division of two exact
# DECIMAL sums, rounded to 6 in both engines.
# ---------------------------------------------------------------------------

_Q8_SQL = """
WITH flows AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO')
SELECT o_year,
  CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END) AS DOUBLE)
    AS nation_rev,
  CAST(sum(vol) AS DOUBLE) AS total_rev,
  round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END) AS DOUBLE)
        / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
FROM flows GROUP BY o_year ORDER BY o_year
"""


@register("market_share_by_year", _Q8_SQL)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.session import ensure_session_defaults
    from piholelongtermstats_spark.sources.parquet import load_table

    ensure_session_defaults(spark)
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("sn_key"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    zero = F.lit(0).cast(_DEC)
    flows = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            "supp_nation",
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("vol")).otherwise(zero))
    tot = F.sum("vol")
    return (
        flows.groupBy("o_year")
        .agg(
            nat.cast("double").alias("nation_rev"),
            tot.cast("double").alias("total_rev"),
            F.round(nat.cast("double") / tot.cast("double"), 6).alias("mkt_share"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# TPC-H join-suite completion: the remaining canonical
# join/agg shapes the earlier waves (Q1/Q3/Q4/Q5/Q7/Q8/Q10/Q16) did
# not cover, re-expressed on the reduced star schema the testdata
# ships (no partsupp / shipmode / commitdate columns — each query
# documents its substitution):
#
# - Q9-shaped  product_profit_by_nation  (profit rollup, LIKE dim cut)
# - Q12-shaped late_shipment_priority    (join + conditional 2-way count)
# - Q14-shaped promo_revenue_share       (ratio of conditional decimal sums)
# - Q15-shaped top_revenue_supplier      (agg → exact-decimal argmax join)
# - Q18-shaped large_volume_customers    (agg-HAVING semi shape, join back)
# - Q19-shaped brand_disjunction_revenue (disjunctive multi-band predicate)
# - Q22-shaped inactive_customer_balance (scalar-agg gate + anti join)
#
# Every money expression is exact DECIMAL(18,2) arithmetic until the
# final cast-to-double projection; every threshold/argmax comparison
# happens on the exact decimal (never post-cast), mirroring the
# cross-multiplied-integer policy of the M12/M13 tiers. Broadcast
# hints follow the r3 lesson: only true dims (nation) are pinned;
# part/supplier/orders/customer edges stay unhinted for Catalyst/AQE
# (they scale with SF — pinning them OOMs a 1000-executor cluster).
# ---------------------------------------------------------------------------

def _revenue():
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# Q9-shaped: profit by supplier nation and order year over a LIKE-cut
# part dim. partsupp/ps_supplycost does not exist in the testdata, so
# cost is p_retailprice * quantity — the join tree (5 relations, two
# fact edges) and the decimal profit algebra are the Q9 shape.
# ---------------------------------------------------------------------------

_Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({rev} - CAST(p_retailprice AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year
""".format(rev=_REV_SQL)


@register("product_profit_by_nation", _Q9_SQL)
def q_product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped profit rollup (SURVEY §2.4 join surface).

    Plan intent at 100 TB: the LIKE cut prunes part BEFORE the fact
    join (Catalyst pushes it into the scan); nation is the only
    broadcast pin; lineitem⨝part, ⨝supplier, ⨝orders stay
    AQE-planned (all scale with SF). Profit stays DECIMAL-exact
    until the final double projection."""
    ensure_session_defaults(spark)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit = _revenue() - (
        F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(profit).cast("double").alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Q12-shaped: late-shipment priority census. The testdata has no
# l_shipmode / l_commitdate / l_receiptdate; "late" is ship > 90 days
# after order, grouped by l_linestatus — the join + two-way
# conditional count is the Q12 shape.
# ---------------------------------------------------------------------------

_Q12_SQL = """
SELECT l_linestatus,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count,
       count(*) AS late_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE datediff('day', o_orderdate, l_shipdate) > 90
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("late_shipment_priority", _Q12_SQL)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped conditional census over a fact-fact join.

    The lateness predicate references BOTH sides (datediff of order
    vs ship date) so it cannot be pushed below the join — the join
    itself stays AQE-planned (both sides O(SF)); the two priority
    counters are one pass of map-side partial aggregation over the
    2-value linestatus key."""
    ensure_session_defaults(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(is_high, 1)).alias("high_line_count"),
            F.count(F.when(~is_high, 1)).alias("low_line_count"),
            F.count(F.lit(1)).alias("late_lines"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Q14-shaped: promo revenue share in a two-month ship window — the
# ratio of a conditional decimal sum over the total, one broadcastable
# window of fact rows, division done identically (double, round 6) in
# both engines.
# ---------------------------------------------------------------------------

_Q14_SQL = """
SELECT
  CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
    AS promo_revenue,
  CAST(sum({rev}) AS DOUBLE) AS total_revenue,
  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        / CAST(sum({rev}) AS DOUBLE), 6) AS promo_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
""".format(rev=_REV_SQL)


@register("promo_revenue_share", _Q14_SQL)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo share: the ship-window predicate is
    pushed to the lineitem scan (partition-prunable under the hive
    layout); part joins unhinted (scales with SF). The share is one
    double division of two exact decimal sums, rounded to 6
    identically in both engines."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast(_DEC)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(zero))
    total = F.sum(_revenue())
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            F.round(
                F.lit(100.0) * promo.cast("double") / total.cast("double"), 6
            ).alias("promo_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q15-shaped: top revenue supplier over a quarter — per-supplier
# decimal revenue, then an argmax expressed as an equality join
# against the broadcast 1-row max. The equality compares the EXACT
# decimals (never the double projection), so ties and argmax are
# deterministic in both engines.
# ---------------------------------------------------------------------------

_Q15_SQL = """
WITH r AS (
  SELECT l_suppkey, sum({rev}) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT max(rev) FROM r)
ORDER BY s_suppkey
""".format(rev=_REV_SQL)


@register("top_revenue_supplier", _Q15_SQL)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped argmax: one partial+final agg builds the
    per-supplier revenue relation; the scalar max is a 1-row
    broadcast joined back on exact-decimal equality (no global sort,
    no window over the supplier relation — the argmax shape that
    survives a supplier dim 10^7 rows wide)."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    # r12 (guide §2.4): rev feeds BOTH the scalar max and the argmax
    # join-back, and exchange reuse cannot serve the pair — the join
    # side's inferred isnotnull(l_suppkey) filter pushes into its scan,
    # so the two lineitem subtrees stop canonicalizing equal and the
    # filtered lineitem scan+aggregation executed TWICE. Materialize
    # the supplier-sized revenue relation once (eager localCheckpoint,
    # the r12 fan-out idiom); one lineitem pass at any volume.
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_revenue()).alias("rev"))
        .localCheckpoint(eager=True)
    )
    top = rev.agg(F.max("rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("rev") == F.col("max_rev"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("rev").cast("double").alias("total_revenue")
        )
        # No cosmetic final sort (r11 VERDICT #1 / guide §2.4).
    )


# ---------------------------------------------------------------------------
# Q18-shaped: large-volume customers — aggregate lineitem per order,
# keep orders whose total quantity clears the threshold on the EXACT
# decimal sum, then join back through orders to customers.
# ---------------------------------------------------------------------------

_Q18_SQL = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(qty AS DOUBLE) AS sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


@register("large_volume_customers", _Q18_SQL)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped agg-HAVING + join-back.

    The aggregate-then-filter runs BEFORE any join (the qty > 300 cut
    reduces the orderkey set by ~1000×), so the joins back to orders
    and customer move only surviving keys; the global order is a
    TakeOrderedAndProject over that tiny survivor set. The threshold
    compares the exact decimal sum, not its double projection."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty"))
        .filter(F.col("qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q19-shaped: disjunctive multi-band predicate revenue — three
# (brand, size-band, quantity-band) conjunction arms OR-ed across the
# lineitem⨝part join. The testdata has no p_container/l_shipinstruct;
# the brand/size/quantity bands carry the disjunction shape.
# ---------------------------------------------------------------------------

_Q19_SQL = """
SELECT CAST(sum({rev}) AS DOUBLE) AS revenue, count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20)
""".format(rev=_REV_SQL)


@register("brand_disjunction_revenue", _Q19_SQL)
def q_brand_disjunction_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate join.

    Catalyst factors the implied part-side disjunction
    (brand IN (1,2,3) with its size bands) below the join, so the
    part scan prunes before any fact row moves; the full three-arm
    predicate is then re-applied post-join. One aggregation, no
    window, no cartesian."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & qty.between(1, 20)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & qty.between(10, 40)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & (qty >= 20)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q22-shaped: high-balance customers gone quiet — balance above the
# positive-balance mean (cross-multiplied decimal gate: bal * n_pos >
# sum_pos, no fp division anywhere near the cut) with no order since
# the cutoff (anti join), rolled up by nation. Every customer in the
# testdata has SOME order, so the anti join runs on the date-filtered
# order set — same anti shape, non-degenerate output.
# ---------------------------------------------------------------------------

_Q22_SQL = """
WITH pos AS (
  SELECT count(*) AS n_pos,
         sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos
  FROM customer WHERE c_acctbal > 0),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-10-01 00:00:00'),
eligible AS (
  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer, pos
  WHERE c_acctbal > 0
    AND CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos
    AND c_custkey NOT IN (SELECT o_custkey FROM recent))
SELECT n_name AS nation, count(*) AS numcust,
       CAST(sum(bal) AS DOUBLE) AS total_acctbal
FROM eligible JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY nation
"""


@register("inactive_customer_balance", _Q22_SQL)
def q_inactive_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped scalar-gate + anti join.

    The positive-balance mean gate is cross-multiplied onto exact
    decimals (bal * n_pos > sum_pos) — no double division decides
    membership, so Spark and DuckDB agree bit-for-bit at the
    boundary. The 1-row stats relation and nation are broadcast; the
    recency anti join is a left_anti against the date-filtered,
    deduplicated custkey set (pushdown-prunable at 100 TB)."""
    ensure_session_defaults(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast(_DEC).alias("bal")
    ).filter(F.col("bal") > 0)
    stats = cust.agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("bal").alias("sum_pos")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-10-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation")
    eligible = (
        cust.join(F.broadcast(stats))
        .filter(F.col("bal") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        eligible.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("total_acctbal"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# TPC-H suite completion: the six remaining canonical query
# shapes (Q6/Q11/Q13/Q17/Q20/Q21), closing out all 22 TPC-H shapes on
# the reduced star schema the testdata ships (no partsupp / container /
# comment / commitdate columns — each query documents its substitution):
#
# - Q6-shaped  forecast_revenue_change  (pure scan+filter+agg — the
#              pushdown benchmark: zero joins, one partial agg)
# - Q11-shaped important_parts          (group agg + global-scalar
#              HAVING gate, cross-multiplied onto exact decimals)
# - Q13-shaped customer_order_distribution (outer join with an ON-side
#              predicate → count histogram — the two-level agg shape)
# - Q17-shaped small_qty_order_revenue  (per-group avg threshold vs the
#              fact — correlated-subquery shape as agg + join-back)
# - Q20-shaped promo_part_suppliers     (nested semi-join chain over a
#              per-(supp,part) shipped-quantity gate)
# - Q21-shaped waiting_suppliers        (EXISTS + NOT EXISTS over the
#              fact, reformulated as one per-order aggregate)
#
# Policy as M12–M14: every money/quantity expression is exact
# DECIMAL(18,2) arithmetic; every threshold that decides membership is
# cross-multiplied onto exact decimals/integers (never a double
# division); one final division (if any) is done identically in both
# engines. Broadcast pins follow the r3 lesson: only true dims
# (nation/region) and provably tiny derived relations (the 1-row scalar
# gate) are pinned; fact edges stay AQE-planned.
# ---------------------------------------------------------------------------

def _dec(col: str):
    return F.col(col).cast(_DEC)


# ---------------------------------------------------------------------------
# Q6-shaped: forecast revenue change. The simplest TPC-H query is the
# sharpest scan test: every predicate must reach PushedFilters on the
# lineitem scan, the plan is scan → filter → two-phase agg, and the
# discount band is compared on the DECIMAL cast (0.05 stored as a
# double would make `BETWEEN 0.05 AND 0.07` engine-dependent at the
# boundary; DECIMAL(18,2) rounds both engines to the same grid first).
# ---------------------------------------------------------------------------

_Q6_SQL = """
SELECT
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("forecast_revenue_change", _Q6_SQL)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped filter-aggregate (SURVEY §2.4 join surface's
    degenerate base case — zero joins).

    Plan intent at 100 TB: ship-window + quantity predicates push to
    the parquet scan (year-partition-prunable under a hive layout);
    the whole query is one WholeStageCodegen span ending in a
    two-phase (partial → final) aggregate, so the only exchange is
    the 1-row SinglePartition gather of the partial sums."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (disc >= F.lit("0.05").cast(_DEC))
            & (disc <= F.lit("0.07").cast(_DEC))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q11-shaped: important parts by shipped value. partsupp/ps_supplycost
# does not exist in the testdata, so "stock value" is the shipped
# value sum(extendedprice * quantity) per part, restricted to ASIA
# suppliers — the Q11 shape is the group agg gated against a GLOBAL
# scalar aggregate reused over its own input. TPC-H's fixed fraction
# must shrink 1/SF to stay non-trivial (the spec scales it by hand);
# this gate is SF-free instead — parts worth more than 2x the MEAN
# part value — cross-multiplied (value · n_parts > 2 · total) on
# exact decimals so no double division decides the boundary.
# ---------------------------------------------------------------------------

_Q11_SQL = """
WITH val AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,4))
           AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
  GROUP BY 1
), tot AS (
  SELECT CAST(sum(part_value) AS DECIMAL(32,4)) AS total,
         count(*) AS n_parts
  FROM val
)
SELECT partkey, CAST(part_value AS DOUBLE) AS part_value
FROM val, tot
WHERE part_value * n_parts > 2 * total
ORDER BY part_value DESC, partkey
"""


@register("important_parts", _Q11_SQL)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped global-scalar HAVING gate.

    Plan intent at 100 TB: the region cut reduces supplier to a
    broadcastable key set BEFORE the fact join (nation/region pinned,
    the supplier edge semi-reduces lineitem); the per-part aggregate
    is one shuffle on partkey; the global total is a 1-row relation
    broadcast back over its own input (BroadcastNestedLoop against a
    single row — never a second shuffle). Membership is decided on
    exact decimals via cross-multiplication."""
    ensure_session_defaults(spark)
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cut = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    val = (
        li.join(F.broadcast(cut), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_quantity"))
            .cast("decimal(28,4)")
            .alias("part_value")
        )
    )
    tot = val.agg(
        F.sum("part_value").cast("decimal(32,4)").alias("total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        val.join(F.broadcast(tot))
        .filter(F.col("part_value") * F.col("n_parts") > 2 * F.col("total"))
        .select("partkey", F.col("part_value").cast("double").alias("part_value"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Q13-shaped: customer order-count distribution. The testdata has no
# o_comment, so the ON-side exclusion is priority <> '1-URGENT' — the
# shape is what matters: the predicate must live in the JOIN condition
# (not a WHERE, which would turn the outer join inner and silently
# drop zero-order customers), then a two-level aggregate builds the
# histogram of counts.
# ---------------------------------------------------------------------------

_Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("customer_order_distribution", _Q13_SQL)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped outer-join histogram.

    Plan intent at 100 TB: the priority exclusion is an ON-condition
    of the LEFT join so zero-order customers survive with c_count=0
    (count(o_orderkey) counts non-NULLs only); first aggregate
    shuffles on custkey (same key as the join — AQE coalesces), the
    histogram aggregate shuffles on the tiny c_count domain. No
    window, no driver loop."""
    ensure_session_defaults(spark)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Q17-shaped: small-quantity-order revenue. The correlated scalar
# subquery (0.2 * avg qty per part) is reformulated as an aggregate
# over the SAME brand-cut join + a join-back; the membership test
# qty < 0.2 * avg = sum/(5n) is cross-multiplied to qty * 5 * n < sum
# — all exact decimal/integer, so the boundary cannot drift between
# engines. p_container does not exist; the second cut is p_size < 10.
# ---------------------------------------------------------------------------

_Q17_SQL = """
WITH fl AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_size < 10
), agg AS (
  SELECT l_partkey AS a_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS sum_qty,
         count(*) AS n_li
  FROM fl GROUP BY 1
)
SELECT
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
    AS avg_yearly,
  count(*) AS n_small_lines
FROM fl
JOIN agg ON l_partkey = a_partkey
WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_li < sum_qty
"""


@register("small_qty_order_revenue", _Q17_SQL)
def q_small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped per-group-average threshold against the fact.

    Plan intent at 100 TB: the brand/size cut prunes part first, the
    filtered fact slice is aggregated per part and joined back to
    itself — both sides of that join carry the SAME part cut, so the
    per-part aggregate is small and broadcastable; no window function
    ever sees the fact. The avg comparison never divides: qty*5*n <
    sum(qty) is exact. One final /7.0 rounded to 6 identically."""
    ensure_session_defaults(spark)
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    fl = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    agg = fl.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum(_dec("l_quantity")).cast("decimal(28,2)").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    return (
        fl.join(F.broadcast(agg), F.col("l_partkey") == F.col("a_partkey"))
        .filter(_dec("l_quantity") * 5 * F.col("n_li") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 6
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q20-shaped: suppliers shipping significant promo-part volume. No
# partsupp/ps_availqty, so the inner gate is "shipped > 45 units of
# one PROMO part during 1997"; the outer query is the Q20 shape — a
# semi-join chain (supplier ⋉ qualifying keys) under a nation/region
# cut, never materializing the gate relation wider than its keys.
# ---------------------------------------------------------------------------

_Q20_SQL = """
WITH qual AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2))
           AS shipped
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM qual WHERE shipped > 45)
ORDER BY s_suppkey
"""


@register("promo_part_suppliers", _Q20_SQL)
def q_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested semi-join chain.

    Plan intent at 100 TB: the part-type cut and ship window prune
    the fact scan; the (supp, part) aggregate is one shuffle; the
    qualifying-supplier key set collapses to DISTINCT suppkeys (tiny
    — bounded by |supplier|) and drives a LEFT SEMI into the
    dim-side supplier relation. Supplier is never joined to the raw
    fact; the quantity gate compares exact decimals."""
    ensure_session_defaults(spark)
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    qual = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("decimal(28,2)").alias("shipped"))
        .filter(F.col("shipped") > 45)
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        # No cosmetic final sort (r11 VERDICT #1 / guide §2.4).
    )


# ---------------------------------------------------------------------------
# Q21-shaped: suppliers who kept orders waiting. l_commitdate /
# l_receiptdate do not exist, so "late" is the M14 Q12 substitution
# (shipped > 90 days after order). The classic EXISTS + NOT-EXISTS
# pair ("another supplier participated" / "no OTHER supplier was
# late") is reformulated as ONE per-order aggregate:
#
#   n_supp > 1 AND n_late_supp = 1  ⟺  ∃ other supplier in the order
#                                      ∧ ∄ other LATE supplier
#
# in which case max(late suppkey) IS the sole offender. The oracle
# runs the identical aggregate formulation — the equivalence to the
# EXISTS pair is the documented contract, and it turns two fact
# self-joins into one shuffle on orderkey.
# ---------------------------------------------------------------------------

_Q21_SQL = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
              THEN 1 ELSE 0 END AS late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp,
         max(CASE WHEN late = 1 THEN l_suppkey END) AS sole_late_supp
  FROM li GROUP BY 1
)
SELECT s_name, count(*) AS numwait
FROM per_order
JOIN supplier ON sole_late_supp = s_suppkey
WHERE n_supp > 1 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
"""


@register("waiting_suppliers", _Q21_SQL)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped EXISTS/NOT-EXISTS, aggregate-reformulated.

    Plan intent at 100 TB: the textbook formulation self-joins
    lineitem twice (EXISTS + NOT EXISTS) — three fact-sized shuffles.
    The per-order aggregate (distinct suppliers, distinct late
    suppliers, max late suppkey) needs ONE shuffle on orderkey and
    preserves the exact semantics: a sole late supplier among ≥2
    participants is the waiting case. Supplier joins the (small)
    offender relation, and the final top-10 is
    TakeOrderedAndProject with a pinned (numwait DESC, name) order."""
    ensure_session_defaults(spark)
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90
    )
    tagged = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        F.when(late, 1).otherwise(0).alias("late"),
    )
    late_supp = F.when(F.col("late") == 1, F.col("l_suppkey"))
    per_order = tagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late_supp"),
        F.max(late_supp).alias("sole_late_supp"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("sole_late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )
