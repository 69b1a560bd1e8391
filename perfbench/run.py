"""Benchmark of the DNS analytics engine: one workload, one seed.

    python3 perfbench/run.py --workload dashboard_reload --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The program is imported from that
checkout; inputs are generated from the seed into a scratch directory
under `perfbench/.tmp/`, which is removed at exit. The last line of
stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes its spans and per-op
Spark numbers to `perfbench/.out/<workload>-seed<seed>.json`.

Each run is a closed loop with one client on `local[<cores>]`.
`setup_s` is one cold set-up: session start, which launches the JVM,
the date-partitioned layout write, the workload's own table build and
its warm-up ops. Set-up runs once per run, so runs over several seeds
supply its repeats.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _hygiene(work: str) -> None:
    """Keep every file Spark, its Python workers and the program write
    inside `work`, and let the workers import the program."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_USE_LAYOUT"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work


def _start_session(work: str):
    from piholelongtermstats_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.local.dir": work,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def measure(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: str,
    out_dir: str,
    n_events=None,
) -> dict:
    """Set up, run whole op cycles for at least `seconds`, check the
    outputs and return the result object. A traced run dumps its spans
    into `out_dir`."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import workloads
    from piholelongtermstats_spark.sources.layout import ensure_layout

    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    inputs.write_events(seed, n_events or inputs.N_EVENTS, sf_dir)
    ops = inputs.OPS[workload](seed)
    wl = workloads.WORKLOADS[workload](sf_dir, work)

    # -- set-up, cold ------------------------------------------------------
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work)
        t1 = time.perf_counter()
        os.environ["SPARK_GRAFT_LAYOUT_DIR"] = os.path.join(work, "layout")
        ensure_layout(spark, sf_dir)
        t2 = time.perf_counter()
        wl.build(spark)
        wl.warmup(spark)
        t3 = time.perf_counter()
        session_s, layout_s, setup_s = t1 - t0, t2 - t1, t3 - t0

        if trace:
            from tracing import Tracer

            tracer = wl.tracer = Tracer(spark)
            for module, attr, name in workloads.WRAPS:
                tracer.wrap(module, attr, name)

        # -- measured closed loop ------------------------------------------
        lat, outs, raised = [], [], []
        start = time.perf_counter()
        for i, op in enumerate(ops):
            if i and i % wl.cycle == 0 and time.perf_counter() - start >= seconds:
                break
            t0 = time.perf_counter()
            with wl.tracer.op(i, wl.op_name):
                try:
                    out, err = wl.run(spark, op), False
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    traceback.print_exc()
                    out, err = None, True
            lat.append(time.perf_counter() - t0)
            outs.append(out)
            raised.append(err)
        elapsed = time.perf_counter() - start
        if tracer is not None:
            persisted = tracer.persisted()
        table_files = wl.table_files()
        wl.close()
        from pyspark import SparkContext

        peak_mb = _hwm_mb("self") + _hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        if tracer is not None:
            tracer.restore()
        if spark is not None:
            _stop_jvm(spark)

    # -- output checks, outside timing -----------------------------------
    print(
        f"set-up {setup_s:.2f} s (session {session_s:.2f} s, layout {layout_s:.2f} s), "
        f"{len(lat)} ops in {elapsed:.2f} s: {[round(x, 3) for x in lat]}",
        file=sys.stderr,
    )
    ops = ops[: len(outs)]
    ok = wl.check(ops, outs)
    failed = sum(err or not good for err, good in zip(raised, ok))

    if trace:
        metrics = layer_metrics(
            tracer, elapsed, session_s, layout_s, persisted, table_files, peak_mb
        )
        dump_trace(tracer, os.path.join(out_dir, f"{workload}-seed{seed}.json"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat) * 1000, "ms"),
            "ops_per_s": (len(lat) / elapsed, "1/s"),
        }
    return {
        "correct": failed == 0,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _span_mean(spans, name: str, key) -> float:
    vals = [key(s) for s in spans if s["name"] == name]
    return statistics.fmean(vals) if vals else 0.0


def layer_metrics(tracer, elapsed, session_s, layout_s, persisted, table_files, peak_mb):
    from tracing import self_time

    spans, ops = tracer.spans, tracer.ops

    def dur(name):
        return _span_mean(spans, name, lambda s: self_time(s, spans))

    def field(name, f):
        return _span_mean(spans, name, lambda s: s[f])

    def per_op(f):
        return statistics.fmean(o[f] for o in ops)

    n_stages = sum(o["stages"] for o in ops)
    return {
        "operators.stats.s": (dur("operators.stats"), "s"),
        "operators.stats.jobs": (field("operators.stats", "jobs"), "count"),
        "operators.plotdata.build_s": (dur("operators.plotdata.build"), "s"),
        "operators.plotdata.payload_s": (dur("operators.plotdata.payload"), "s"),
        "operators.plotdata.payload_jobs": (field("operators.plotdata.payload", "jobs"), "count"),
        "operators.plotdata.callback_s": (
            _span_mean(spans, "operators.plotdata.callback", lambda s: s["end"] - s["start"]), "s"),
        "operators.plotdata.callback_jobs": (field("operators.plotdata.callback", "jobs"), "count"),
        "sources.input_bytes": (per_op("input_bytes"), "bytes"),
        "sources.input_records": (per_op("input_records"), "count"),
        "functions.exclude_s": (dur("functions.exclude"), "s"),
        "operators.timeagg.rollup_s": (dur("operators.timeagg.rollup"), "s"),
        "streaming.sink.merge_s": (dur("streaming.sink.merge"), "s"),
        "streaming.sink.merge_jobs": (field("streaming.sink.merge", "jobs"), "count"),
        "streaming.sink.output_bytes": (field("streaming.sink.merge", "output_bytes"), "bytes"),
        "streaming.sink.table_files": (table_files, "count"),
        "spark.persisted_rdds": (persisted[0], "count"),
        "spark.storage_mb": (persisted[1], "MB"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.skipped_stage_share": (
            sum(o["skipped_stages"] for o in ops) / n_stages if n_stages else 0.0, "share"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.executor_run_s": (per_op("executor_run_s"), "s"),
        "spark.executor_cpu_s": (per_op("executor_cpu_s"), "s"),
        "spark.gc_s": (per_op("gc_s"), "s"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "spark.outside_stage_s": (per_op("outside_stage_s"), "s"),
        "session.start_s": (session_s, "s"),
        "sources.layout_write_s": (layout_s, "s"),
        "process.peak_rss_mb": (peak_mb, "MB"),
        # the tracer's own time over the loop's time without it
        "trace.overhead_share": (tracer.overhead_s / (elapsed - tracer.overhead_s), "share"),
    }


def dump_trace(tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "ops": tracer.ops}, f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    scratch = os.path.join(HERE, ".tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        _hygiene(work)
        result = measure(
            args.workload,
            args.seed,
            args.seconds,
            bool(args.trace),
            work,
            os.path.join(HERE, ".out"),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
