"""Smoke tests of the benchmark itself, on 1,000 events.

    python3 -m pytest perfbench -q

Each Spark run starts and stops its own JVM, so the module takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pytest

import inputs
import run

sys.path.insert(0, run.ROOT)
import workloads  # noqa: E402  (imports the program from the checkout)

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOAD_NAMES = [w["name"] for w in BENCH["workloads"]]
SMALL = 1_000


@pytest.fixture(autouse=True)
def _restore_process_state(monkeypatch):
    """`run._hygiene` and `run.measure` set environment variables and
    `tempfile.tempdir` for the whole process; undo them after each test
    so that tests collected later in the same process are unaffected."""
    env = dict(os.environ)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    yield
    os.environ.clear()
    os.environ.update(env)


def _measure(tmp_path, workload, trace):
    work = str(tmp_path / "work")
    os.makedirs(work)
    run._hygiene(work)
    return run.measure(
        workload, 5, 3, trace, work, str(tmp_path / "out"), n_events=SMALL
    )


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_same_seed_same_inputs(workload):
    assert inputs.OPS[workload](7) == inputs.OPS[workload](7)
    assert inputs.OPS[workload](7) != inputs.OPS[workload](8)
    assert inputs.events_table(7, SMALL).equals(inputs.events_table(7, SMALL))


def test_workloads_match_benchmark_json():
    assert sorted(WORKLOAD_NAMES) == sorted(inputs.OPS) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_reports_every_metric(tmp_path, workload, trace):
    res = _measure(tmp_path, workload, trace)
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        assert os.listdir(tmp_path / "out") == [f"{workload}-seed5.json"]
        if workload == "dashboard_reload":
            assert res["metrics"]["operators.stats.jobs"]["value"] > 0


def test_corrupted_result_counts_as_failed(tmp_path, monkeypatch):
    orig = workloads.RollupServe.run

    def corrupt(self, spark, op):
        out = orig(self, spark, op)
        return out + 1 if op["kind"] != "upsert" else out

    monkeypatch.setattr(workloads.RollupServe, "run", corrupt)
    res = _measure(tmp_path, "rollup_serve", 0)
    assert not res["correct"]
    ops = inputs.OPS["rollup_serve"](5)[: res["attempted"]]
    assert res["failed"] == sum(op["kind"] != "upsert" for op in ops)
