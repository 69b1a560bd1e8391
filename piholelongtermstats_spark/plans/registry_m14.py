"""M14 — TPC-H join-suite completion wave: the remaining canonical
join/agg shapes the earlier waves (Q1/Q3/Q4/Q5/Q7/Q8/Q10/Q16) did
not cover, re-expressed on the reduced star schema the testdata
ships (no partsupp / shipmode / commitdate columns — each query
documents its substitution):

- Q9-shaped  product_profit_by_nation  (profit rollup, LIKE dim cut)
- Q12-shaped late_shipment_priority    (join + conditional 2-way count)
- Q14-shaped promo_revenue_share       (ratio of conditional decimal sums)
- Q15-shaped top_revenue_supplier      (agg → exact-decimal argmax join)
- Q18-shaped large_volume_customers    (agg-HAVING semi shape, join back)
- Q19-shaped brand_disjunction_revenue (disjunctive multi-band predicate)
- Q22-shaped inactive_customer_balance (scalar-agg gate + anti join)

Every money expression is exact DECIMAL(18,2) arithmetic until the
final cast-to-double projection; every threshold/argmax comparison
happens on the exact decimal (never post-cast), mirroring the
cross-multiplied-integer policy of the M12/M13 tiers. Broadcast
hints follow the r3 lesson: only true dims (nation) are pinned;
part/supplier/orders/customer edges stay unhinted for Catalyst/AQE
(they scale with SF — pinning them OOMs a 1000-executor cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.plans.registry import _DEC, _docs, _emb, register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.parquet import load_table


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
# Binary (sign-bit) quantization ANN (operators/binquant.py) — 1-bit
# codes, integer hamming candidate cut, exact rounded-cosine rerank.
# The oracle replays the identical packing (32-bit words in BIGINTs),
# the identical integer hamming rank, and the house rerank policy.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import binquant  # noqa: E402
from piholelongtermstats_spark.plans.cache import shared_input  # noqa: E402

_BQ_Q = binquant.N_QUERIES
_BQ_K = binquant.K
_BQ_C = binquant.N_CANDIDATES

_BINQUANT_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN i <= 32 AND e > 0
                       THEN 1::BIGINT << (i - 1) ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN i > 32 AND e > 0
                       THEN 1::BIGINT << (i - 33) ELSE 0 END) AS BIGINT) AS c1
  FROM (SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY vec_id),
q AS (SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, c0 AS q0, c1 AS q1
      FROM embeddings e JOIN codes USING (vec_id) WHERE vec_id < {_BQ_Q}),
c AS (SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v, c0, c1
      FROM embeddings e JOIN codes USING (vec_id) WHERE vec_id >= {_BQ_Q}),
h AS (SELECT query_id, vec_id, label, v, qv,
             CAST(bit_count(xor(c0, q0)) + bit_count(xor(c1, q1)) AS BIGINT)
               AS hamming
      FROM c CROSS JOIN q),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY hamming, vec_id) AS cand_rank
    FROM h) t
  WHERE cand_rank <= {_BQ_C})
SELECT query_id, rank, vec_id, label, hamming, cosine FROM (
  SELECT query_id, vec_id, label, hamming,
         round(list_cosine_similarity(v, qv), 6) AS cosine,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rank
  FROM cand) t
WHERE rank <= {_BQ_K}
ORDER BY query_id, rank
"""


@register("binary_quant_ann", _BINQUANT_SQL)
def q_binary_quant_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit ANN: 32× smaller candidate state, integer-exact
    candidate decisions, exact rerank (operators/binquant.py)."""
    return binquant.binary_quant_ann(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# CCNet-style bigram LM (operators/lm.py) — the model's integer face
# (exact bigram counts, pinned top-k order) is oracle-checked; the
# per-document log-prob edge is oracle-checked too since r11 (the
# DECIMAL(20,12) logp grid in lm_model), with the pure-Python
# differential in tests/test_lm.py as defense in depth.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import lm  # noqa: E402

_LM_TOPK_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
bg AS (
  SELECT unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
  FROM tk WHERE len(toks) >= 2)
SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS cnt
FROM bg
GROUP BY 1, 2
ORDER BY cnt DESC, w1, w2
LIMIT 50
"""


def _lm_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted (doc_id, w1, w2) bigram stream — built once,
    consumed by both the counts face and the scoring pass (the
    shingle-set convention, registry_m7._shingles)."""
    return shared_input(
        spark,
        "lm_bigrams",
        sf_dir,
        lambda: lm.bigram_stream(_docs(spark, sf_dir)),
    )


@register("lm_bigram_topk", _LM_TOPK_SQL)
def q_lm_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus bigram counts, top-50 by (cnt desc, w1, w2) —
    the oracle-checked sufficient statistics of the LM."""
    return lm.bigram_topk(_docs(spark, sf_dir), bg=_lm_bigrams(spark, sf_dir))


# Graduated from rows-only in r11 (r10 VERDICT #5): lm_model now
# quantizes each pair's logp ONCE to the exact DECIMAL(20,12) grid
# (the DSIR log-ratio convention), so the per-doc sum is order-free
# exact decimal arithmetic and the one cast-to-double + one division
# at the edge replay bit-for-bit. The remaining fp surface is the
# same ln-grid edge DSIR carries (libm-vs-DuckDB ln must agree to the
# 5e-13 half-grid; a future near-miss fails parity loudly).
_LM_DOCLP_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
bgp AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
  FROM tk WHERE len(toks) >= 2),
bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgp),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM (
    SELECT unnest(toks) AS w FROM tk) GROUP BY w),
vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY w1, w2),
model AS (
  SELECT big.w1, big.w2,
         CAST(ln(CAST(big.c12 + 1 AS DOUBLE))
            - ln(CAST(uni.c1 + vv.v AS DOUBLE)) AS DECIMAL(20,12)) AS logp
  FROM big JOIN uni ON big.w1 = uni.w, vv),
scored AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(model.logp) AS DOUBLE) AS logprob_sum
  FROM bg JOIN model USING (w1, w2) GROUP BY bg.doc_id)
SELECT d.doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       coalesce(s.logprob_sum, 0.0) AS logprob_sum,
       CASE WHEN coalesce(s.n_bigrams, 0) > 0
            THEN s.logprob_sum / s.n_bigrams ELSE 0.0 END AS avg_logprob
FROM (SELECT doc_id FROM documents) d
LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


@register("lm_doc_logprob", _LM_DOCLP_SQL)
def q_lm_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document add-1-smoothed bigram log-prob — one row per input
    document (empty docs: n_bigrams 0, sums 0). Oracle-checked since
    r11 via the decimal-grid logp quantization (operators/lm.py)."""
    return lm.doc_logprob(_docs(spark, sf_dir), bg=_lm_bigrams(spark, sf_dir))
