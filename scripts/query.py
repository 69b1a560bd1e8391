"""Registry query CLI: run, time, dump and census the registered queries.

Usage: python scripts/query.py <subcommand> [args]

    audit [sf_dir]                       executed-plan census -> PLAN_AUDIT.md
    scans [sf_dir] [name ...]            queries re-scanning one identical leaf
    sorts [sf_dir]                       global sorts over unbounded relations
    paths [sf_dir]                       parquet paths scanned >= 2x per query
    dump <outdir> <tag> <sf_dir> name|@listfile ...
                                         formatted plans -> <outdir>/<q>_<tag>.txt
    run [name] [sf_dir] [--explain]      print a query's rows (or its plan);
                                         no name lists the registry
    bench [name ...] [--sf sf_dir]       bench.py's timing loop over a subset

sf_dir defaults to the sf0.01 test data (bench: sf0.1).
scans, paths, dump and bench read the events tier through the
date-partitioned layout, as bench.py does (SPARK_GRAFT_USE_LAYOUT).
Every plan walk goes through plans/metrics._walk.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from piholelongtermstats_spark.plans import META, QUERIES  # noqa: E402
from piholelongtermstats_spark.plans.metrics import (  # noqa: E402
    _leaves,
    _path_bounded,
    _walk,
    executed_plan_metrics,
    single_partition_funnels,
)

SF = "/root/testdata/sf0.01"


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _spark(app: str):
    from piholelongtermstats_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---- audit -------------------------------------------------------------------

_PY_STAGES = ("ArrowEvalPythonExec", "FlatMapGroupsInPandasExec", "MapInPandasExec")


def node_census(df) -> dict:
    """Operator counts over the EXECUTED (AQE-final) plan of `df`."""
    c = {"exch": 0, "bhj": 0, "smj": 0, "codegen": 0, "py": 0, "window": 0}
    seen = set()
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = _name(node)
        if name == "ShuffleExchangeExec":
            c["exch"] += 1
        elif name == "BroadcastHashJoinExec":
            c["bhj"] += 1
        elif name == "SortMergeJoinExec":
            c["smj"] += 1
        elif name == "WholeStageCodegenExec":
            c["codegen"] += 1
        elif name in _PY_STAGES:
            c["py"] += 1
        elif name in ("WindowExec", "WindowGroupLimitExec"):
            c["window"] += 1
    return c


def audit(args) -> int:
    """Registry-wide executed-plan audit -> PLAN_AUDIT.md.

    Runs every query at sf_dir and reports the operator census of its
    EXECUTED physical plan: the per-query evidence table behind
    SCALING.md's per-family prose. Reading the columns:
    - `exch` counts Exchange nodes excluding ReusedExchange (a reuse is
      free at runtime) — for registry queries the shared persisted
      inputs (plans/cache.py) mean an exch is a shuffle over
      ALREADY-REDUCED data, not the raw fact.
    - `bhj`/`smj` = broadcast-hash vs sort-merge joins in the final
      plan (AQE may have converted either way at runtime).
    - `py` = Arrow/Pandas stages (ArrowEvalPython / FlatMapGroupsInPandas
      / MapInPandas) — the deliberate vectorized exceptions.
    - `shufKB` / `spill` are SQLMetrics sums from the run.
    - `funnel` = UNBOUNDED single-partition funnels (unpartitioned
      WindowExec / shuffle-to-1-partition whose input is not provably
      counts-sized — plans/metrics.single_partition_funnels). `0`, or
      `W:<n>` for a count waived by register(funnel_waiver=...); any
      other value is a scale hazard and tests/test_plan_gate.py fails.
    """
    spark = _spark("plan-audit")
    rows = []
    unwaived = []
    for name, fn in QUERIES.items():
        df = fn(spark, args.sf_dir)
        df.collect()
        c = node_census(df)
        m = executed_plan_metrics(df)
        funnels = single_partition_funnels(df)
        waived = META[name].funnel_waiver is not None
        if funnels:
            fun = ("W:" if waived else "") + str(len(funnels))
            if not waived:
                unwaived.append(name)
        else:
            fun = "0"
        rows.append(
            (
                name,
                c["exch"],
                c["bhj"],
                c["smj"],
                c["window"],
                c["py"],
                c["codegen"],
                round(m.get("shuffleBytesWritten", 0) / 1024),
                m.get("spillSize", 0),
                fun,
            )
        )

    rows.sort(key=lambda r: (-r[1], -r[7], r[0]))
    lines = [
        "# PLAN_AUDIT — executed-plan census over the full registry",
        "",
        f"Generated by `python scripts/query.py audit {args.sf_dir}` "
        f"({len(rows)} queries; AQE-final plans; see scripts/query.py "
        "for column semantics).",
        "",
        "| query | exch | bhj | smj | window | py | codegen | shufKB |"
        " spill | funnel |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    tot_spill = sum(r[8] for r in rows)
    max_exch = max(r[1] for r in rows)
    n_waived = sum(1 for r in rows if r[9].startswith("W:"))
    lines += [
        "",
        f"Totals: max exchanges per query **{max_exch}**, suite spill "
        f"**{tot_spill}** bytes, queries with zero exchanges: "
        f"**{sum(1 for r in rows if r[1] == 0)}**, with Python (Arrow) "
        f"stages: **{sum(1 for r in rows if r[5] > 0)}**. Unbounded "
        f"single-partition funnels: **{len(unwaived)}** unwaived"
        f"{' (' + ', '.join(unwaived) + ')' if unwaived else ''}, "
        f"**{n_waived}** contract-waived "
        "(register(funnel_waiver=...); gate: tests/test_plan_gate.py).",
        "",
    ]
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLAN_AUDIT.md ({len(rows)} queries, spill={tot_spill})")
    return 0


# ---- build-only censuses (pre-execution sparkPlan, no query jobs) -------------


def _built_plan(df):
    return df._jdf.queryExecution().sparkPlan()


def leaf_scans(df) -> list:
    """Leaf-scan identity strings: node class + first line of its string
    (table/path for scans, RDD id for checkpoints), with per-occurrence
    expression ids (#123) masked."""
    out = []
    for node in _leaves(_built_plan(df)):
        name = _name(node)
        if "Scan" in name or "RDD" in name or "InMemory" in name:
            ident = re.sub(r"#\d+", "#", node.toString().splitlines()[0])
            out.append(name + ":" + ident[:140])
    return out


def scans(args) -> int:
    """How often each query's plan contains the same leaf scan subtree,
    i.e. how often a shared input would be RE-EXECUTED by fan-out
    consumers if no exchange reuse kicks in. High multiplicity flags a
    fan-out-materialization candidate; AQE exchange reuse can absorb
    some of these at runtime, so re-measure before changing one."""
    spark = _spark("phlts-scan-census")
    rows = []
    for name in args.names or sorted(QUERIES):
        try:
            found = leaf_scans(QUERIES[name](spark, args.sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {e}", file=sys.stderr)
            continue
        ident = Counter(found)
        mx = max(ident.values(), default=0)
        rows.append((mx, len(found), len(ident), name))
    rows.sort(reverse=True)
    print(f"{'max_mult':>8s} {'scans':>6s} {'kinds':>6s}  query")
    for mx, tot, kinds, name in rows:
        if mx > 1:
            print(f"{mx:8d} {tot:6d} {kinds:6d}  {name}")
    n_flagged = sum(1 for r in rows if r[0] > 1)
    print(f"\n{n_flagged} queries with a repeated identical leaf scan")
    return 0


_LIMITS = ("TakeOrderedAndProjectExec", "CollectLimitExec", "GlobalLimitExec")


def global_sorts(df) -> list:
    """(node string, bounded) for every global Sort not under a limit.
    Bounded = every leaf path below passes through an aggregate/limit
    (plans/metrics._path_bounded), so the sorted relation is
    counts-sized and the sort is harmless."""
    out = []
    for node in _walk(_built_plan(df), prune=lambda n: _name(n) in _LIMITS):
        if _name(node) != "SortExec":
            continue
        try:
            is_global = getattr(node, "global")()
        except Exception:
            is_global = False
        if is_global:
            try:
                out.append((node.toString()[:120], _path_bounded(node.child())))
            except Exception:
                pass
    return out


def sorts(args) -> int:
    """Queries that contain a global Sort over a NON-bounded relation:
    a rangepartitioning exchange (sampling = double execution of the
    child) for an ordering neither checker needs (the driver hash is
    order-insensitive, check_oracle.normalize() sorts rows)."""
    spark = _spark("sort-census")
    flagged = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, args.sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"BUILDFAIL {name}: {e!r}"[:160])
            continue
        unbounded = [s for s, b in global_sorts(df) if not b]
        if unbounded:
            flagged.append(name)
            print(f"UNBOUNDED-SORT {name}: {unbounded[0]}")
    print(f"\n{len(flagged)} queries with an unbounded global sort")
    print(flagged)
    return 0


def _root_paths(node) -> str:
    """A file scan's root paths, read from its relation through the JVM.
    The rendered `Location [...]` string is cut at
    spark.sql.maxMetadataStringLength, which merges two paths sharing
    a long prefix into one key."""
    try:
        index = node.relation().location()  # FileSourceScanExec
    except Exception:
        index = node.scan().fileIndex()  # BatchScanExec over a file source
    ps = index.rootPaths()
    return ", ".join(ps.apply(i).toString() for i in range(ps.size()))


def parquet_paths(df) -> list:
    """Root-path keys of every file-scan leaf in the built plan."""
    return [
        _root_paths(node)
        for node in _leaves(_built_plan(df))
        if "FileSourceScan" in _name(node) or "BatchScan" in _name(node)
    ]


def paths(args) -> int:
    """How many times each query's plan scans the same PARQUET PATH,
    regardless of projected schema: N scans of one table with different
    projections (one per aggregation leg) are invisible to `scans`. A
    repeated path is data at rest re-read per leg; repeated
    ExistingRDD/InMemory leaves are checkpoint/cache-backed and not
    counted. Known-honest survivors (mult 2): TPC-H canonical
    double-references (nation in Q7/Q8, lineitem in Q17, customer in
    Q22), the by-design `union_all(one, one)` source pipeline, and
    rollup_delta's two DISJOINT date ranges of one path."""
    spark = _spark("path-census")
    rows = []
    for name, fn in sorted(QUERIES.items()):
        try:
            c = Counter(parquet_paths(fn(spark, args.sf_dir)))
            mx = max(c.values()) if c else 0
            if mx >= 2:
                rows.append((mx, sum(c.values()), name))
        except Exception as e:  # noqa: BLE001
            print("ERR", name, repr(e)[:120])
    rows.sort(reverse=True)
    print("max_mult  pq_scans  query")
    for mx, tot, name in rows:
        print(f"{mx:8d} {tot:9d}  {name}")
    print(len(rows), "queries scanning one parquet path >= 2x")
    return 0


# ---- dump / run / bench -----------------------------------------------------


def dump(args) -> int:
    """Write `.explain("formatted")` of each named query to
    <outdir>/<query>_<tag>.txt (@file reads names one per line)."""
    names: list[str] = []
    for a in args.names:
        if a.startswith("@"):
            names += [ln.strip() for ln in open(a[1:]) if ln.strip()]
        else:
            names.append(a)
    os.makedirs(args.outdir, exist_ok=True)
    spark = _spark("dump-plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for n in names:
        if n not in QUERIES:
            print(f"SKIP {n}: not registered")
            continue
        try:
            s = QUERIES[n](spark, args.sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            s = f"ERROR building {n}: {e!r}"
        with open(os.path.join(args.outdir, f"{n}_{args.tag}.txt"), "w") as f:
            f.write(s)
        print(f"wrote {n}_{args.tag}.txt")
    return 0


def run(args) -> int:
    """Print one query's rows, or its formatted plan with --explain."""
    if not args.name:
        print("available queries:")
        for n in QUERIES:
            print(" ", n)
        return 0
    if args.name not in QUERIES:
        print(f"unknown query {args.name!r}; run with no args to list")
        return 1
    df = QUERIES[args.name](_spark("run-query"), args.sf_dir)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(50, truncate=False)
    return 0


def bench(args) -> int:
    """bench.py's timing loop over a subset, for a quick before/after
    while optimizing. Prints each query's min, build and exec."""
    from bench import time_queries

    names = args.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    rec = time_queries(_spark("phlts-bench-subset"), args.sf, names)
    timings, build, execs = rec["timings_sec"], rec["build_sec"], rec["exec_sec"]
    for n in names:
        print(f"{timings[n]:7.3f}  build={build[n]:6.3f} exec={execs[n]:6.3f}  {n}")
    print(f"subset_sum={sum(timings.values()):.3f}")
    return 0


def main(argv: list | None = None) -> int:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def cmd(fn, help: str):
        s = sub.add_parser(fn.__name__, help=help)
        s.set_defaults(fn=fn)
        return s

    for fn, help in (
        (audit, "executed-plan census -> PLAN_AUDIT.md"),
        (sorts, "global sorts over unbounded relations"),
        (paths, "parquet paths scanned >= 2x per query"),
    ):
        cmd(fn, help).add_argument("sf_dir", nargs="?", default=SF)
    s = cmd(scans, "queries re-scanning one identical leaf")
    s.add_argument("sf_dir", nargs="?", default=SF)
    s.add_argument("names", nargs="*")
    s = cmd(dump, "formatted plans to files")
    for a in ("outdir", "tag", "sf_dir"):
        s.add_argument(a)
    s.add_argument("names", nargs="+")
    s = cmd(run, "print a query's rows or plan")
    s.add_argument("name", nargs="?")
    s.add_argument("sf_dir", nargs="?", default=SF)
    s.add_argument("--explain", action="store_true")
    s = cmd(bench, "bench.py timing over a subset")
    s.add_argument("names", nargs="*")
    s.add_argument("--sf", default="/root/testdata/sf0.1")
    args = p.parse_args(argv)
    if args.cmd in ("scans", "paths", "dump", "bench"):
        os.environ.setdefault("SPARK_GRAFT_USE_LAYOUT", "1")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
