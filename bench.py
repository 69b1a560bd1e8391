"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE COMPACT JSON line:
  {"metric", "value", "unit", "exec_value", "sf", "n_queries"}.

Per-query detail (timings, build/exec split, shuffle/spill SQLMetrics)
goes to bench_metrics.json — embedding the 80+-entry per-query dict in
stdout overflowed the driver's tail-capture window every round
(BENCH_r01–r04 all recorded parsed=null); the stdout line now carries
ONLY the suite totals (r4 VERDICT #1).

Timing contract (unchanged from r4): the per-query timer wraps plan
CONSTRUCTION + execution — the driver's real unit of work. What r5
changes is ATTRIBUTION (r4 VERDICT #4/#5): a full UNTIMED warm pass
runs first, so every session-scoped cache (shared inputs incl. LSH
pairs, quantizer training, the Jaccard exactness-guard probe, JVM/
codegen) is materialized before any timer starts. r4's numbers had
whichever query touched a shared cache first absorbing its build cost
(dedup_clusters 0.03 ↔ 3.19 s round-over-round artifacts); now
build_sec measures each query's OWN plan construction. Timed passes:
5, per-query MIN (r4's min-of-2 left 40-50% host-noise swings on two
queries; this host shows 2-4x transient spikes, and r5's min-of-3
still let identical-code suite totals wander ±10% — r5 VERDICT #2).
Every pass's timing is recorded in bench_metrics.json
(``pass_sec``) plus a per-query and suite-level noise summary
(``noise``: median/min ratios), so the next round's verdict can
condition regressions on the measured spread instead of guessing.

The events tier reads the date-partitioned p_date layout, the only
fact path (sources/events.dns_fact, sources/layout.py), so range
queries exercise directory-level PartitionFilters. The layout write
happens in the untimed warmup, on the first dns_fact call
(daily-ingest model: layout is a property of the data at rest).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from piholelongtermstats_spark.plans import META, QUERIES  # noqa: E402
from piholelongtermstats_spark.plans.metrics import executed_plan_metrics  # noqa: E402
from piholelongtermstats_spark.session import get_spark  # noqa: E402

N_TIMED_PASSES = 5

# ---- per-query budget gate (r9 VERDICT #7) --------------------------------
# The suite grew 182 -> 209 s in one round purely by addition; this gate
# makes a heavy new entry VISIBLE at landing time instead of three
# artifacts later. Any query whose per-query min exceeds BUDGET_SEC at
# sf >= 0.1 and is not budget-waived (below) is reported in
# bench_metrics.json ("budget_violations") and counted on the stdout
# line ("over_budget"). The gate never fails the bench — the driver
# must always get its JSON line — it makes the violation diffable.
BUDGET_SEC = 2.5
# Waivers: queries that are over budget BY DESIGN declare their OWN
# ceiling and the reason the cost is inherent at their registration
# site, register(budget=(ceiling_sec, reason)) (r10 ADVICE: an
# unconditional exemption would let a waived query regress many-fold
# while the gate still reports clean). Ceilings are ~1.5x the committed
# per-query min, so host noise passes but a real regression (the
# setsim_scale_2x 4.94s class) flags.


def time_queries(spark, sf_dir: str, names: list) -> dict:
    """Time `names` with the bench methodology and return the per-query
    record: an UNTIMED warm pass, then N_TIMED_PASSES timed passes of
    plan construction + collect, keeping each query's minimum.

    The warm pass materializes the partitioned layout, every shared
    persisted input (plans/cache.py), the quantizer/probe memos, and
    JVM/codegen state — the load-then-serve model: the reference
    likewise preprocesses its resident frame before answering anything
    (process.py:100-113). Also a correctness smoke: a query that throws
    fails HERE, not mid-timing.
    """
    for name in names:
        QUERIES[name](spark, sf_dir).collect()

    timings: dict[str, float] = {}
    build_sec: dict[str, float] = {}
    exec_sec: dict[str, float] = {}
    plan_metrics: dict[str, dict] = {}
    pass_sec: dict[str, list] = {}
    for rnd in range(N_TIMED_PASSES):
        for name in names:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            t = round(t2 - t0, 4)
            pass_sec.setdefault(name, []).append(t)
            if name not in timings or t < timings[name]:
                timings[name] = t
                build_sec[name] = round(t1 - t0, 4)
                exec_sec[name] = round(t2 - t1, 4)
            if rnd == N_TIMED_PASSES - 1:
                # Observed SQLMetrics (shuffle bytes/records, spill)
                # from the executed plan — evidence for the scale
                # story, gathered OUTSIDE the timed region.
                try:
                    plan_metrics[name] = executed_plan_metrics(df)
                except Exception as e:  # noqa: BLE001
                    # A py4j/plan-shape regression must be visible, not
                    # read downstream as "zero-shuffle plan".
                    plan_metrics[name] = {"err": repr(e)[:200]}
    return {
        "timings_sec": timings,
        "build_sec": build_sec,
        "exec_sec": exec_sec,
        "pass_sec": pass_sec,
        "query_metrics": plan_metrics,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("phlts-bench")
    spark.sparkContext.setLogLevel("ERROR")

    rec = time_queries(spark, sf_dir, list(QUERIES))
    timings, pass_sec = rec["timings_sec"], rec["pass_sec"]
    total = round(sum(timings.values()), 4)
    exec_total = round(sum(rec["exec_sec"].values()), 4)

    # Noise summary: per-query median/min ratio plus suite aggregates.
    # The suite total is a sum of MINs; "median_total" is what a
    # typical single pass would have summed to — their ratio bounds
    # how much host noise a naive one-pass comparison would carry.
    def _median(xs: list) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    med = {k: _median(v) for k, v in pass_sec.items()}
    ratios = sorted(
        (med[k] / timings[k]) for k in timings if timings[k] > 0
    )
    noise = {
        "median_total_sec": round(sum(med.values()), 4),
        "median_over_min_total": round(sum(med.values()) / total, 4)
        if total
        else None,
        "per_query_median_over_min_p50": round(_median(ratios), 4)
        if ratios
        else None,
        "per_query_median_over_min_p90": round(
            ratios[int(0.9 * (len(ratios) - 1))], 4
        )
        if ratios
        else None,
        "per_query_median_over_min_max": round(ratios[-1], 4)
        if ratios
        else None,
    }

    # Budget gate: evaluated on the per-query MIN (the same number the
    # round-over-round diff reads) so host noise can't flag a query.
    # A waived query is still gated — against its own ceiling.
    waivers = {n: m.budget for n, m in META.items() if m.budget}
    budget_violations = (
        {
            k: v
            for k, v in sorted(timings.items(), key=lambda kv: -kv[1])
            if v > waivers.get(k, (BUDGET_SEC,))[0]
        }
        if sf >= 0.1
        else {}
    )
    if budget_violations:
        print(
            f"BUDGET: {len(budget_violations)} quer"
            f"{'y' if len(budget_violations) == 1 else 'ies'} over "
            f"{BUDGET_SEC}s at sf{sf}: "
            + ", ".join(
                f"{k}={v}s" for k, v in budget_violations.items()
            ),
            file=sys.stderr,
        )

    # Full per-query record lives in the side file; round-over-round
    # comparison reads THIS, never the stdout tail. timings_sec =
    # build+exec total per query (the honest unit of work);
    # build_sec/exec_sec split it — exec_sec is the r1-r3-comparable
    # collect-only number.
    with open(os.path.join(REPO, "bench_metrics.json"), "w") as f:
        json.dump(
            {
                "sf": sf,
                "n_timed_passes": N_TIMED_PASSES,
                "timings_sec": timings,
                "build_sec": rec["build_sec"],
                "exec_sec": rec["exec_sec"],
                "pass_sec": pass_sec,
                "noise": noise,
                "budget_sec": BUDGET_SEC,
                "budget_violations": budget_violations,
                "budget_waivers": {
                    k: {"ceiling_sec": c, "reason": r}
                    for k, (c, r) in sorted(waivers.items())
                },
                "query_metrics": rec["query_metrics"],
            },
            f,
            indent=1,
        )

    print(
        json.dumps(
            {
                "metric": "suite_sec_sum_of_query_min",
                "value": total,
                "unit": "sec",
                "exec_value": exec_total,
                "sf": sf,
                "n_queries": len(timings),
                "over_budget": len(budget_violations),
            }
        )
    )


if __name__ == "__main__":
    main()
