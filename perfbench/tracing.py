"""Traced-run harness: spans from outside the program plus Spark's
per-stage numbers for each op.

Spans are opened by wrapping public functions at their module
attribute, so the program itself carries no tracing code. Each span
sets its own Spark job group, which attributes every job, including
the eager ones a builder launches, to the innermost open span. After
each op the tracer reads the status store, which keeps only the newest
1,000 jobs and stages, so nothing is lost between reads.
"""

from __future__ import annotations

import contextlib
import functools
import time

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "numTasks",
)


def _epoch_ms(opt_date):
    return opt_date.get().getTime() if opt_date.isDefined() else None


class Tracer:
    """Spans kept in memory, each tagged with its op id; after each op
    the Spark work of every span's jobs is summed into `ops`.

    `overhead_s` is the time the tracer itself spends inside the
    measured loop: span bookkeeping with its two `setJobGroup` calls,
    and the status-store reads after each op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()
        self._patched: list[tuple] = []
        self._op = None

    # -- spans ---------------------------------------------------------
    def wrap(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def _group(self, span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "op": self._op,
            "name": name,
            "parent": parent,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(self._group(rec["id"]), name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(self._group(top["id"]), top["name"])
            else:
                self.sc.setJobGroup("perfbench-idle", "")
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one op; its Spark numbers are read right after."""
        self._op = op_id
        first = len(self.spans)
        with self.span(name) as root:
            yield root
        t0 = time.perf_counter()
        self.ops.append(self._op_stats(root, self.spans[first:]))
        self.overhead_s += time.perf_counter() - t0

    # -- status store --------------------------------------------------
    def _stage(self, stage_id: int) -> dict:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # never submitted, so never stored
            return {"skipped": True}
        rec = {f: getattr(s, f)() for f in STAGE_FIELDS}
        rec["skipped"] = s.status().toString() == "SKIPPED"
        rec["submitted"] = _epoch_ms(s.submissionTime())
        rec["completed"] = _epoch_ms(s.completionTime())
        return rec

    def _op_stats(self, root: dict, spans: list[dict]) -> dict:
        """Spark work of one op: each span gets the sums over the stages
        its own jobs ran, the op record gets the totals."""
        tracker = self.sc.statusTracker()
        ran: list[dict] = []
        n_stages = 0
        for sp in spans:
            sp_ran, sp["jobs"] = [], 0
            for job_id in tracker.getJobIdsForGroup(self._group(sp["id"])):
                sp["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for sid in info.stageIds if info else ():
                    n_stages += 1
                    # a stage an earlier job ran is reused, not run again
                    if sid not in self._seen_stages:
                        self._seen_stages.add(sid)
                        st = self._stage(sid)
                        if not st["skipped"]:
                            sp_ran.append(st)
            sp.update(_sums(sp_ran))
            ran += sp_ran
        wall_s = root["end"] - root["start"]
        covered = _covered_s(
            [(s["submitted"], s["completed"]) for s in ran],
            root["start"] * 1000,
            root["end"] * 1000,
        )
        return {
            "op": root["op"],
            "name": root["name"],
            "wall_s": wall_s,
            "jobs": sum(sp["jobs"] for sp in spans),
            "stages": n_stages,
            "skipped_stages": n_stages - len(ran),
            **_sums(ran),
            "outside_stage_s": max(wall_s - covered, 0.0),
        }

    def persisted(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return len(self.sc._jsc.getPersistentRDDs()), mb


def _sums(stages: list[dict]) -> dict:
    def tot(f):
        return sum(s[f] for s in stages)

    return {
        "tasks": tot("numTasks"),
        "executor_run_s": tot("executorRunTime") / 1e3,
        "executor_cpu_s": tot("executorCpuTime") / 1e9,
        "gc_s": tot("jvmGcTime") / 1e3,
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        "input_bytes": tot("inputBytes"),
        "input_records": tot("inputRecords"),
        "output_bytes": tot("outputBytes"),
    }


def _covered_s(intervals, lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo, hi] covered by the union of stage intervals."""
    clipped = sorted(
        (max(a, lo_ms), min(b, hi_ms))
        for a, b in intervals
        if a is not None and b is not None and min(b, hi_ms) > max(a, lo_ms)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the time its child spans cover."""
    kids = [
        (s["start"] * 1000, s["end"] * 1000)
        for s in spans
        if s["parent"] == span["id"]
    ]
    dur = span["end"] - span["start"]
    return dur - _covered_s(kids, span["start"] * 1000, span["end"] * 1000)
