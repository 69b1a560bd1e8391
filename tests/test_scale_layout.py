"""Scale-layout properties asserted at the PLAN level: bucketed
joins run without Exchange, salted aggregation matches the direct
plan. These are the 100 TB design decisions (SURVEY.md §4, §7) made
checkable at test scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import skew
from piholelongtermstats_spark.sources import bucketing
from piholelongtermstats_spark.sources.parquet import load_table
from tests.conftest import duck_fact_rows, fact_rows

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    # Pre-clean: a SIGKILLed previous run can leave the warehouse
    # directories behind with the catalog entry gone (teardown never
    # ran), and saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("t_li_b", "t_ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderdate", "o_custkey"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    bucketing.write_bucketed(li, "t_li_b", ["l_orderkey"], 8, ["l_orderkey"])
    bucketing.write_bucketed(orders, "t_ord_b", ["l_orderkey"], 8, ["l_orderkey"])
    yield "t_li_b", "t_ord_b"
    spark.sql("DROP TABLE IF EXISTS t_li_b")
    spark.sql("DROP TABLE IF EXISTS t_ord_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    # force the join path (tiny test tables would otherwise broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.colocated_join(spark, left, right, ["l_orderkey"])
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # correctness: row count matches the plain parquet join
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders")
        expected = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_has_single_stage_agg(spark, bucketed_tables):
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("c"))
    plan = _explain(agg)
    assert "Exchange" not in plan, plan


def test_salted_count_matches_direct(spark):
    fact = load_table(spark, SF, "events")
    direct = {
        r["event_type"]: r["cnt"]
        for r in fact.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    }
    salted = {
        r["event_type"]: r["cnt"]
        for r in skew.salted_count(fact, "event_type", "event_id").collect()
    }
    assert salted == direct


def test_date_partitioned_scan_prunes_partitions(spark, tmp_path_factory):
    """r3 VERDICT #7: the S4 range scan over the date-partitioned
    layout must prune whole date DIRECTORIES at plan time
    (PartitionFilters on p_date), keep the exact raw-ts bounds as
    PushedFilters for the boundary days, and return exactly what
    DuckDB's fact derivation returns over the flat file."""
    import datetime as dt

    from piholelongtermstats_spark.sources import layout

    path = str(tmp_path_factory.mktemp("evpart") / "events_by_date")
    layout.write_events_date_partitioned(spark, SF, path)

    lo = dt.datetime.fromisoformat("2024-01-05 06:00:00")
    hi = dt.datetime.fromisoformat("2024-01-12 00:00:00")
    scan = layout.scan_events_date_partitioned(spark, path, lo, hi)
    plan = _explain(scan)

    # Directory-level pruning is in the plan: PartitionFilters carries
    # the p_date range, and partition count proves pruning (7 of ~30
    # days; hi is midnight-exclusive so Jan 12's directory is NOT read).
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "p_date" in pf[0], plan
    assert "(p_date" in pf[0] and "2024-01-05" in pf[0] and "2024-01-11" in pf[0], pf[0]
    # pruning is real, not just printed: the executed scan's
    # numPartitions SQLMetric reports only the 7 in-range date
    # directories (Jan 12's is never opened)
    from piholelongtermstats_spark.plans.metrics import executed_plan_metrics

    scan.collect()
    m = executed_plan_metrics(scan, keys=("numPartitions",))
    assert m.get("numPartitions") == 7, m
    # exact ts bounds still reach the parquet row groups
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters")[1][:200], plan

    # row-for-row parity with the DuckDB reference
    expected = duck_fact_rows(SF, lo, hi)
    assert fact_rows(scan) == expected and expected


def test_date_partitioned_scan_tz_aware_bounds(spark, tmp_path_factory):
    """r4 ADVICE (medium): partition pruning must use the UTC date of
    a tz-aware bound, not its local wall-clock date. A UTC+14
    early-morning bound is still the PREVIOUS day in UTC — pruning on
    the wall-clock date would drop that directory and silently lose
    its in-range rows."""
    import datetime as dt

    from piholelongtermstats_spark.sources import layout

    path = str(tmp_path_factory.mktemp("evpart_tz") / "events_by_date")
    layout.write_events_date_partitioned(spark, SF, path)

    tz14 = dt.timezone(dt.timedelta(hours=14))
    # 2024-01-06 04:00 at UTC+14 == 2024-01-05 14:00 UTC: the window
    # starts inside the Jan 5 UTC directory.
    lo = dt.datetime(2024, 1, 6, 4, 0, 0, tzinfo=tz14)
    # 2024-01-12 10:00 at UTC+14 == 2024-01-11 20:00 UTC: the window
    # ends inside Jan 11; Jan 12's directory must not be read.
    hi = dt.datetime(2024, 1, 12, 10, 0, 0, tzinfo=tz14)

    scan = layout.scan_events_date_partitioned(spark, path, lo, hi)
    expected = duck_fact_rows(SF, lo, hi)
    assert fact_rows(scan) == expected and expected
    # the pruned window is the UTC dates [2024-01-05, 2024-01-11]
    plan = _explain(scan)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "2024-01-05" in pf[0] and "2024-01-11" in pf[0], pf[0]


def test_dns_fact_scans_date_layout(spark):
    """dns_fact has one scan path, the date-partitioned layout, with
    no environment switch: [lo, hi) prunes p_date directories at plan
    time and bounds the stored ts in the parquet reader."""
    import datetime as dt

    from piholelongtermstats_spark.sources.events import dns_fact

    lo = dt.datetime(2024, 1, 5, 6)
    hi = dt.datetime(2024, 1, 12)
    plan = _explain(dns_fact(spark, SF, lo, hi))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "(p_date" in pf[0], plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    assert "GreaterThanOrEqual(ts," in pushed[0], pushed[0]
    assert "LessThan(ts," in pushed[0], pushed[0]


def test_bucketed_join_revenue_no_exchange_under_join(spark):
    """r5: the registry's bucketed_join_revenue must actually exercise
    the bucketed path — with broadcast disabled, the lineitem⋈orders
    SortMergeJoin reads both bucketed tables with NO Exchange below
    the join (the only shuffle is the month rollup above it)."""
    from piholelongtermstats_spark.plans import QUERIES

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["bucketed_join_revenue"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # exactly ONE Exchange in the whole plan: the month-rollup
        # aggregation above the join; the join inputs read the bucketed
        # tables directly
        n_exchange = len(
            [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
        )
        assert n_exchange == 1, plan
        # result sanity: matches the plain parquet join
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders")
        expected = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        from pyspark.sql import functions as FF
        got = df.agg(FF.sum("n_items")).first()[0]
        assert got == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_dynamic_partition_pruning_on_date_layout(spark, tmp_path_factory):
    """r5: the p_date layout composes with Spark's dynamic partition
    pruning — when the date filter arrives via a JOIN against a small
    dim (not a literal range), Catalyst still prunes the fact's date
    directories at RUNTIME (DynamicPruningExpression in
    PartitionFilters, broadcast dim reused as the pruning filter).
    This is the mechanism that saves the scan when the date window
    comes from another table — e.g. "days with deploy events" — and
    it needs zero code in this repo beyond partitioning the layout."""
    from piholelongtermstats_spark.plans.metrics import executed_plan_metrics
    from piholelongtermstats_spark.sources import layout

    path = str(tmp_path_factory.mktemp("evpart_dpp") / "events_by_date")
    layout.write_events_date_partitioned(spark, SF, path)
    fact = spark.read.parquet(path)
    n_days = fact.select("p_date").distinct().count()

    # DPP wants a FILTERED file relation on the dim side (a bare
    # LocalRelation has no selective predicate to derive the runtime
    # filter from) — the realistic shape anyway: "dates tagged X" read
    # from another table.
    dim_path = str(tmp_path_factory.mktemp("dpp_dim") / "dates")
    spark.createDataFrame(
        [
            ("2024-01-05", "deploy"),
            ("2024-01-07", "deploy"),
            ("2024-01-09", "deploy"),
            ("2024-01-11", "other"),
        ],
        "d string, tag string",
    ).select(F.col("d").cast("date").alias("d"), "tag").coalesce(1).write.parquet(
        dim_path
    )
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "deploy")
    joined = fact.join(dim, fact.p_date == dim.d).groupBy("p_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    plan = _explain(joined)
    assert "dynamicpruning" in plan.lower(), plan

    rows = {str(r["p_date"]): r["cnt"] for r in joined.collect()}
    assert set(rows) == {"2024-01-05", "2024-01-07", "2024-01-09"}
    # pruning executed, not just planned: the summed numPartitions
    # metric counts every scan node in the adaptive plan (the pruned
    # fact scan reads 3 directories; the tiny dim is scanned for both
    # the join side and the reused DPP broadcast subquery) — without
    # runtime pruning the fact scan alone contributes all n_days (30)
    m = executed_plan_metrics(joined, keys=("numPartitions",))
    assert m.get("numPartitions", 10**9) < n_days / 2, (m, n_days)
    assert n_days == 30
    # values match DuckDB's fact derivation over the flat file
    from collections import Counter

    days = Counter(str(d) for (d,) in duck_fact_rows(SF, cols="CAST(date AS DATE)"))
    assert rows == {d: days[d] for d in rows}


def test_aqe_splits_skewed_join_partitions(spark):
    """r5: SCALING.md's skew posture for joins is 'AQE skew-join
    splitting' — make that evidence, not a claim. A join where one key
    holds ~90% of the left side must execute as a SortMergeJoin
    marked skew=true (the hot partition split into multiple tasks) in
    the final adaptive plan, with thresholds scaled down to test-size
    data, and return exactly the expected row count."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000, 1, 8).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50, 1, 2).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = left.join(right, "k")
        # collect() executes THIS plan (count() would build a separate
        # aggregate plan and leave `joined` unexecuted/isFinalPlan=false)
        n = len(joined.collect())
        # expected: key 0 matches 270k left rows x 1 right row; keys
        # 1..49 match only the ~10% of left ids not mapped to 0
        # (ids 9,19,... below 50 that are ≡9 mod 10 → {9,19,29,39,49})
        assert n == 270_000 + 5
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_before_shuffle(spark, tmp_path_factory):
    """r5: at 100 TB the win for selective dim joins that CANNOT
    broadcast is Spark's runtime bloom filter — the dim side builds a
    bloom_filter_agg, and a might_contain() filter is injected on the
    fact side BELOW its shuffle, so non-matching fact rows never hit
    the wire. Evidence, not a claim: with thresholds scaled to test
    size, the executed plan contains the injected filter and the
    fact side's shuffle writes collapse from ~200k rows to the ~1k
    that survive the dim's selective predicate (+false positives)."""
    from piholelongtermstats_spark.plans.metrics import executed_plan_metrics

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        d = tmp_path_factory.mktemp("bloom")
        fp, dp = str(d / "fact"), str(d / "dim")
        spark.range(0, 200_000, 1, 4).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        ).write.parquet(fp)
        spark.createDataFrame(
            [(i, "keep" if i < 5 else "drop") for i in range(1000)],
            "k long, tag string",
        ).coalesce(1).write.parquet(dp)
        fact = spark.read.parquet(fp)
        dim = spark.read.parquet(dp).filter(F.col("tag") == "keep")
        joined = fact.join(dim, "k")
        n = len(joined.collect())  # executes THIS plan
        assert n == 1000  # 5 surviving keys x 200 fact rows each
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan.lower(), plan
        # executed, not just planned: total shuffle records = pruned
        # fact side (~1k + fp) + dim side (5) + bloom build traffic —
        # far below the 200k an unfiltered fact shuffle writes
        m = executed_plan_metrics(joined, keys=("shuffleRecordsWritten",))
        assert 0 < m["shuffleRecordsWritten"] < 20_000, m
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
