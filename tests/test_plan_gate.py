"""Registry-wide single-partition-funnel gate (r11 VERDICT #5).

Generalizes the stats-surface-only check (test_stats_surface.py) to
ALL registered queries: every unpartitioned WindowExec and every
shuffle-to-1-partition in every registry plan must sit on a provably
counts-sized relation (an upstream aggregate / limit bounds it), or
carry a documented operator-contract waiver at its registration site,
register(funnel_waiver=reason). This is the gate that keeps commits like
the r11 media-panel `repartition(1)` (VERDICT "What's wrong" #1) from
landing silently again: a new funnel over a fact-proportional relation
fails here by name.

The sweep builds plans only (no collect of the query result — though a
handful of query functions do eager counts-sized side work), so it
covers all ~300 registry entries in one test at sf0.001.
"""

from __future__ import annotations

import __spark_entry__ as se
from piholelongtermstats_spark.plans import META
from piholelongtermstats_spark.plans.metrics import single_partition_funnels

SF = "/root/testdata/sf0.001"
WAIVED = {n: m.funnel_waiver for n, m in META.items() if m.funnel_waiver}


def test_no_unwaived_funnels_registry_wide(spark):
    qs = se.queries()
    bad = {}
    waived_seen = set()
    for name, fn in qs.items():
        funnels = single_partition_funnels(fn(spark, SF))
        if not funnels:
            continue
        if name in WAIVED:
            waived_seen.add(name)
        else:
            bad[name] = [f[0] for f in funnels]
    assert not bad, (
        "unbounded single-partition funnel(s) — fix the plan or add a "
        f"documented register(funnel_waiver=...) reason: {bad}"
    )
    # A waiver whose funnel no longer exists is dead config — prune it
    # so the registry stays an honest list of live exceptions.
    stale = set(WAIVED) - waived_seen
    assert not stale, f"stale funnel waivers (no funnel found): {stale}"


def test_waivers_are_documented(spark):
    for name, why in WAIVED.items():
        assert name in se.queries(), f"waiver for unregistered query {name}"
        assert len(why) > 40, f"waiver for {name} needs a real justification"
