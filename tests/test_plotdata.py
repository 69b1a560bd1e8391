"""Plot-data frames + interactive rollup path (reference:
tests/test_plot.py, tests/test_process.py:219-301)."""

from __future__ import annotations

import datetime as dt

from piholelongtermstats_spark.operators import plotdata, timeagg
from tests.conftest import make_fact


def _rows(n=100):
    t0 = dt.datetime.fromisoformat("2024-01-01T00:00:00")
    long_domain = "a" * 30 + "b" * 30  # >45 chars → must be ellipsized
    out = []
    for i in range(n):
        out.append(
            (
                i,
                (t0 + dt.timedelta(minutes=17 * i)).isoformat(),
                f"c{i % 7}",
                long_domain if i % 10 == 0 else f"dom{i % 6}.com",
                "Blocked" if i % 4 == 0 else "Allowed",
                0.01 * i,
            )
        )
    return out


def test_plot_frames_shapes(spark):
    fact = make_fact(spark, _rows())
    frames = plotdata.generate_plot_data(fact)
    assert set(frames) == {
        "top_clients_stacked", "blocked_df", "allowed_df", "reply_time_df",
        "client_list", "client_domain_scatter_df", "day_hour_heatmap",
        "blocked_day_hour_heatmap", "allowed_day_hour_heatmap", "top_clients",
    }
    top = frames["top_clients"].collect()
    assert len(top) == 5  # k bound (test_plot.py:47-82)
    stacked = frames["top_clients_stacked"].collect()
    assert {r["client"] for r in stacked} <= {r["client"] for r in top}
    heat = frames["day_hour_heatmap"].toPandas()
    assert len(heat) <= 7 and len(heat.columns) == 25  # ≤7×24 + day_name
    assert frames["client_list"].count() == 7


def test_ellipsization(spark):
    """>45-char domains shortened to 20+3+20 (plot.py:26-27,
    test_plot.py:128-141)."""
    fact = make_fact(spark, _rows())
    doms = [r["domain"] for r in plotdata.generate_plot_data(fact)["blocked_df"].collect()]
    long_short = [d for d in doms if "..." in d]
    assert long_short and all(len(d) == 43 for d in long_short)
    assert long_short[0] == "a" * 20 + "..." + "b" * 20


def test_interactive_rollup_path(spark):
    """Callback queries hit only the rollup (plot.py:165-364)."""
    fact = make_fact(spark, _rows())
    rollup = timeagg.hourly_rollup(fact).cache()
    full = plotdata.filtered_timeseries(rollup)
    assert full.groupBy().sum("cnt").collect()[0][0] == 100  # zero-fill preserves totals
    one = plotdata.filtered_timeseries(rollup, "c0")
    tot_c0 = one.groupBy().sum("cnt").collect()[0][0]
    assert tot_c0 == 15  # ceil(100/7)
    act = plotdata.client_activity(rollup, "c0")
    assert act.groupBy().sum("cnt").collect()[0][0] == 15
    # nonexistent client → spine rows, zero counts (test_plot.py:144-256)
    ghost = plotdata.filtered_timeseries(rollup, "nope")
    assert ghost.filter("cnt > 0").count() == 0
    assert ghost.count() > 0
    rollup.unpersist()


JOIN_NODES = {
    "BroadcastHashJoinExec",
    "ShuffledHashJoinExec",
    "SortMergeJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
}


def test_callbacks_join_free_single_scan(spark, tmp_path):
    """Each callback is one aggregate plus one generator over the
    stored rollup: its executed plan has no join node and scans the
    rollup table exactly once."""
    from piholelongtermstats_spark.plans.metrics import _walk

    path = str(tmp_path / "rollup")
    timeagg.hourly_rollup(make_fact(spark, _rows())).write.parquet(path)
    rollup = spark.read.parquet(path)
    for frame in (
        plotdata.filtered_timeseries(rollup, "c0"),
        plotdata.filtered_timeseries(rollup),
        plotdata.client_activity(rollup, "c0"),
    ):
        frame.collect()
        nodes = {
            n.id(): n.getClass().getSimpleName()
            for n in _walk(frame._jdf.queryExecution().executedPlan())
        }
        names = list(nodes.values())
        assert not JOIN_NODES & set(names), names
        assert names.count("FileSourceScanExec") == 1, names
