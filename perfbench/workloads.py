"""The workloads: how each sets up, runs one op and checks its
outputs against DuckDB.

Every call into the program goes through a module attribute, so the
traced run's wrappers (`WRAPS`) see it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os

import duckdb

from piholelongtermstats_spark import api
from piholelongtermstats_spark.operators import plotdata, stats, timeagg
from piholelongtermstats_spark.sources import events
from piholelongtermstats_spark.streaming import sink

import inputs

# (module, attribute, span name) of every public function the traced
# run times from outside.
WRAPS = (
    (api, "run_dashboard", "api.run_dashboard"),
    (api, "dns_fact", "sources.dns_fact"),
    (events, "dns_fact", "sources.dns_fact"),
    (api, "exclude_domains", "functions.exclude"),
    (plotdata, "generate_plot_data", "operators.plotdata.build"),
    (stats, "compute_stats", "operators.stats"),
    (plotdata, "to_payload", "operators.plotdata.payload"),
    (plotdata, "filtered_timeseries", "operators.plotdata.timeseries"),
    (plotdata, "client_activity", "operators.plotdata.activity"),
    (timeagg, "hourly_rollup", "operators.timeagg.rollup"),
    (sink, "merge_batch", "streaming.sink.merge"),
)

STATUS_COUNTS = """
SELECT count(*),
       count(*) FILTER (WHERE event_type IN ('view', 'click', 'purchase')),
       count(*) FILTER (WHERE event_type = 'error')
FROM events WHERE ts >= ? AND ts < ?"""


class NoTrace:
    """Stand-in for `tracing.Tracer` in the untraced run."""

    def span(self, name):
        return contextlib.nullcontext({})

    def op(self, op_id, name):
        return contextlib.nullcontext({})


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    return con


class Workload:
    """`build` and `warmup` are set-up work before measuring, `run`
    executes one op and returns what `check` compares (True per op
    whose output is right). Runs stop only after whole cycles of
    `cycle` ops."""

    op_name = "op"
    cycle = 1

    def __init__(self, sf_dir: str, work_dir: str):
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = NoTrace()

    def build(self, spark) -> None:
        pass

    def warmup(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, op: dict):
        raise NotImplementedError

    def check(self, ops: list[dict], outs: list) -> list[bool]:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def table_files(self) -> int:
        return 0


class DashboardReload(Workload):
    op_name = "op.reload"
    cycle = inputs.RELOAD_CYCLE

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.prev: dict = {}

    def warmup(self, spark) -> None:
        day = inputs.SPAN_START.isoformat()
        self.run(spark, {"start_date": day, "end_date": day,
                         "exclude_patterns": ['"k": 1[0-9]}']})

    def run(self, spark, op):
        self.prev = api.reload(
            spark,
            self.prev,
            parquet_dir=self.sf_dir,
            start_date=op["start_date"],
            end_date=op["end_date"],
            timezone="UTC",
            exclude_patterns=op["exclude_patterns"],
            collect_plots=True,
        )
        s = self.prev["stats"]
        return (s["total_queries"], s["allowed_count"], s["blocked_count"])

    def check(self, ops, outs):
        con = duck(self.sf_dir)
        ok = []
        for op, out in zip(ops, outs):
            lo = dt.datetime.fromisoformat(op["start_date"])
            hi = dt.datetime.fromisoformat(op["end_date"]) + dt.timedelta(days=1)
            sql = STATUS_COUNTS + " AND NOT regexp_matches(props, ?)" * len(
                op["exclude_patterns"]
            )
            want = con.execute(sql, [lo, hi, *op["exclude_patterns"]]).fetchone()
            ok.append(out == tuple(want))
        return ok

    def close(self) -> None:
        if self.prev.get("fact") is not None:
            self.prev["fact"].unpersist()


class RollupServe(Workload):
    op_name = "op.serve"

    def table(self) -> str:
        return os.path.join(self.work_dir, "rollup")

    def build(self, spark):
        fact = events.dns_fact(spark, self.sf_dir)
        sink.merge_batch(spark, timeagg.hourly_rollup(fact), self.table())

    def warmup(self, spark):
        # two whole op cycles: callback latency keeps falling over the
        # first few dozen ops of a session
        for i in range(2 * inputs.WRITE_EVERY):
            if i % inputs.WRITE_EVERY == inputs.WRITE_EVERY - 1:
                op = {"kind": "upsert", "day": "2024-01-15"}
            else:
                op = {"kind": inputs.CALLBACKS[i % 2], "client": str(i)}
            self.run(spark, op)

    def run(self, spark, op):
        if op["kind"] == "upsert":
            lo = dt.datetime.fromisoformat(op["day"])
            day = events.dns_fact(spark, self.sf_dir, lo=lo, hi=lo + dt.timedelta(days=1))
            sink.merge_batch(spark, timeagg.hourly_rollup(day), self.table())
            return None
        with self.tracer.span("operators.plotdata.callback"):
            rollup = spark.read.parquet(self.table())
            if op["kind"] == "timeseries":
                frame = plotdata.filtered_timeseries(rollup, op["client"])
            else:
                frame = plotdata.client_activity(rollup, op["client"])
            return int(frame.toPandas()["cnt"].sum())

    def check(self, ops, outs):
        con = duck(self.sf_dir)
        per_client = dict(
            con.execute(
                "SELECT CAST(user_id AS VARCHAR), count(*) FROM events GROUP BY 1"
            ).fetchall()
        )
        n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
        (table_sum,) = con.execute(
            f"SELECT sum(cnt) FROM read_parquet('{self.table()}/*/*.parquet')"
        ).fetchone()
        return [
            table_sum == n_events
            if op["kind"] == "upsert"
            else out == per_client.get(op["client"], 0)
            for op, out in zip(ops, outs)
        ]

    def table_files(self) -> int:
        return sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(self.table())
            for f in files
        )


WORKLOADS = {
    "dashboard_reload": DashboardReload,
    "rollup_serve": RollupServe,
}
