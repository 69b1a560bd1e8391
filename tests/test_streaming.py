"""Structured Streaming rollup extension (SURVEY.md §2.9 — batch-only
reference; this is the beyond-reference streaming path)."""

from __future__ import annotations

import datetime as dt

import pytest

from piholelongtermstats_spark.streaming.rollup import (
    STREAM_SCHEMA,
    start_rollup_to_memory,
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_rollup_incremental(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")

    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d1", "Allowed", 0.1),
            (2, t0 + dt.timedelta(minutes=10), "c1", "d1", "Blocked", 0.2),
            (3, t0 + dt.timedelta(minutes=70), "c2", "d2", "Allowed", 0.3),
        ],
    )
    q = start_rollup_to_memory(spark, src, "rollup_t1")
    q.awaitTermination(60)
    got = {
        (r["hour_bucket"], r["status_type"], r["client"]): r["cnt"]
        for r in spark.sql("SELECT * FROM rollup_t1").collect()
    }
    h10 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    h11 = dt.datetime.fromisoformat("2024-01-01T11:00:00")
    assert got == {
        (h10, "Allowed", "c1"): 1,
        (h10, "Blocked", "c1"): 1,
        (h11, "Allowed", "c2"): 1,
    }

    # second drop lands → rerun availableNow picks up only-new files via
    # the same source dir (fresh query name; memory sink is per-query)
    _write_batch(
        spark,
        src,
        [(4, t0 + dt.timedelta(minutes=20), "c1", "d1", "Allowed", 0.4)],
    )
    q2 = start_rollup_to_memory(spark, src, "rollup_t2")
    q2.awaitTermination(60)
    got2 = {
        (r["hour_bucket"], r["status_type"], r["client"]): r["cnt"]
        for r in spark.sql("SELECT * FROM rollup_t2").collect()
    }
    assert got2[(h10, "Allowed", "c1")] == 2


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState carries per-client state across
    micro-batches: totals accumulate, not reset."""
    from piholelongtermstats_spark.streaming.sessions import (
        running_client_totals_stream,
    )

    src = str(tmp_path / "state_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d1", "Allowed", 0.1),
            (2, t0 + dt.timedelta(minutes=1), "c1", "d2", "Blocked", 0.2),
            (3, t0 + dt.timedelta(minutes=2), "c2", "d1", "Allowed", 0.3),
        ],
    )
    out = running_client_totals_stream(spark, src, STREAM_SCHEMA)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["client"]: (r["total_events"], r["last_ts"])
        for r in spark.sql("SELECT * FROM totals_t1").collect()
    }
    assert got["c1"] == (2, t0 + dt.timedelta(minutes=1))
    assert got["c2"] == (1, t0 + dt.timedelta(minutes=2))


def test_batch_sessions_respect_gap(spark):
    """Native session_window: a 30-min gap splits sessions; an event at
    EXACTLY the session end (last ts + gap) still merges — only a
    strictly larger gap starts a new session. The oracle SQL mirrors
    this with a strict `>` on the lag diff."""
    from piholelongtermstats_spark.streaming.sessions import client_sessions
    from tests.conftest import make_fact

    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    rows = [
        (1, t0.isoformat(), "c1", "d", "Allowed", 0.1),
        (2, (t0 + dt.timedelta(minutes=10)).isoformat(), "c1", "d", "Allowed", 0.1),
        # exactly 30 min after event 2 -> merges (inclusive boundary)
        (3, (t0 + dt.timedelta(minutes=40)).isoformat(), "c1", "d", "Allowed", 0.1),
        # 30 min + 1 s after event 3 -> new session
        (4, (t0 + dt.timedelta(minutes=70, seconds=1)).isoformat(), "c1", "d", "Allowed", 0.1),
    ]
    fact = make_fact(spark, rows)
    sessions = sorted(
        (r["session_start"], r["session_end"], r["n_events"])
        for r in client_sessions(fact).collect()
    )
    assert sessions == [
        (t0, t0 + dt.timedelta(minutes=70), 3),
        (
            t0 + dt.timedelta(minutes=70, seconds=1),
            t0 + dt.timedelta(minutes=100, seconds=1),
            1,
        ),
    ]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Duplicate event_ids inside the watermark horizon are suppressed."""
    from piholelongtermstats_spark.streaming.sessions import streaming_dedup

    src = str(tmp_path / "dedup_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d1", "Allowed", 0.1),
            (1, t0, "c1", "d1", "Allowed", 0.1),  # exact redelivery
            (2, t0 + dt.timedelta(minutes=1), "c2", "d2", "Blocked", 0.2),
        ],
    )
    out = streaming_dedup(spark, src, STREAM_SCHEMA)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dedup_t1").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_session_window_on_stream(spark, tmp_path):
    """The SAME client_sessions plan runs on a stream: watermarked
    session windows finalize (append mode) once the watermark passes
    their end — the late client's open session stays in state."""
    from piholelongtermstats_spark.streaming.sessions import client_sessions

    src = str(tmp_path / "sess_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d", "Allowed", 0.1),
            (2, t0 + dt.timedelta(minutes=5), "c1", "d", "Allowed", 0.1),
            # watermark driver: 2h later; c1's session (end 10:35) is
            # then final, c2's own session stays open in state
            (3, t0 + dt.timedelta(hours=2), "c2", "d", "Allowed", 0.1),
        ],
    )
    stream = spark.readStream.schema(STREAM_SCHEMA).parquet(src)
    sessions = client_sessions(stream.withWatermark("ts", "10 minutes"))
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["client"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_t1").collect()
    }
    assert got == {("c1", t0, t0 + dt.timedelta(minutes=35), 2)}


def test_rollup_upsert_sink_incremental(spark, tmp_path):
    """foreachBatch MERGE: two incremental runs produce exactly the
    batch-recomputed rollup — updated keys overwritten (no dupes),
    untouched keys preserved, checkpoint makes the second run
    process only new files."""
    from piholelongtermstats_spark.streaming.sink import start_rollup_upsert

    src = str(tmp_path / "up_src")
    tgt = str(tmp_path / "up_tgt")
    ckpt = str(tmp_path / "up_ckpt")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")

    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d1", "Allowed", 0.1),
            (2, t0 + dt.timedelta(minutes=10), "c1", "d1", "Blocked", 0.2),
            (3, t0 + dt.timedelta(minutes=70), "c2", "d2", "Allowed", 0.3),
        ],
    )
    q = start_rollup_upsert(spark, src, tgt, ckpt)
    q.awaitTermination(120)

    # second drop: one more c1-Allowed in hour 10 (updates that key),
    # plus a new key on a later date
    _write_batch(
        spark,
        src,
        [
            (4, t0 + dt.timedelta(minutes=20), "c1", "d1", "Allowed", 0.4),
            (5, t0 + dt.timedelta(days=2), "c3", "d3", "Blocked", 0.5),
        ],
    )
    q2 = start_rollup_upsert(spark, src, tgt, ckpt)
    q2.awaitTermination(120)

    got = {
        (r["hour_bucket"], r["status_type"], r["client"]): r["cnt"]
        for r in spark.read.parquet(tgt).collect()
    }
    h10 = t0.replace(minute=0)
    h11 = h10 + dt.timedelta(hours=1)
    assert got == {
        (h10, "Allowed", "c1"): 2,   # updated in place, not duplicated
        (h10, "Blocked", "c1"): 1,   # untouched key survived the merge
        (h11, "Allowed", "c2"): 1,
        (h10 + dt.timedelta(days=2), "Blocked", "c3"): 1,
    }


ROLLUP_SCHEMA = "hour_bucket timestamp, status_type string, client string, cnt long"


def _rollup_rows(spark, tgt):
    return sorted(
        (r["hour_bucket"], r["status_type"], r["client"], r["cnt"])
        for r in spark.read.parquet(tgt).collect()
    )


def test_merge_batch_empty_batch_writes_nothing(spark, tmp_path):
    """An empty batch creates no table at a fresh path and leaves an
    existing table's rows as they are."""
    import os

    from piholelongtermstats_spark.streaming.sink import merge_batch

    empty = spark.createDataFrame([], ROLLUP_SCHEMA)
    fresh = str(tmp_path / "fresh")
    merge_batch(spark, empty, fresh)
    assert not os.path.exists(fresh)

    tgt = str(tmp_path / "tgt")
    h = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    batch = spark.createDataFrame([(h, "Allowed", "c1", 3)], ROLLUP_SCHEMA)
    merge_batch(spark, batch, tgt)
    before = _rollup_rows(spark, tgt)
    merge_batch(spark, empty, tgt)
    assert _rollup_rows(spark, tgt) == before == [(h, "Allowed", "c1", 3)]


def test_merge_batch_leaves_session_conf_alone(spark, tmp_path):
    """The merge overwrites only the batch's date partitions, and the
    session's partitionOverwriteMode (the default, static) reads the
    same before and after each merge."""
    from piholelongtermstats_spark.streaming.sink import merge_batch

    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    tgt = str(tmp_path / "tgt")
    d1 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    d2 = d1 + dt.timedelta(days=1)
    merge_batch(
        spark,
        spark.createDataFrame(
            [(d1, "Allowed", "c1", 1), (d2, "Blocked", "c2", 2)], ROLLUP_SCHEMA
        ),
        tgt,
    )
    assert spark.conf.get(key) == mode
    batch = spark.createDataFrame([(d2, "Blocked", "c2", 5)], ROLLUP_SCHEMA)
    merge_batch(spark, batch, tgt)
    assert spark.conf.get(key) == mode
    # the untouched day survives a static-mode session: the dynamic
    # overwrite came from the writer, not from the conf
    assert _rollup_rows(spark, tgt) == [
        (d1, "Allowed", "c1", 1),
        (d2, "Blocked", "c2", 5),
    ]


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python state-server protocol needs "
    "google.protobuf, absent in this container (pip install disallowed); "
    "StreakProcessor semantics are covered by test_streak_processor_logic",
)
def test_transform_with_state_streaks(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed state): per-client
    streaks carry across micro-batches through the checkpointed
    ValueState — a Blocked run split across two batches stitches to
    length 3, which no per-batch computation could produce."""
    from piholelongtermstats_spark.streaming.stateful import (
        client_streaks_stream,
    )

    src = str(tmp_path / "streak_src")
    ckpt = str(tmp_path / "streak_ckpt")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    _write_batch(
        spark,
        src,
        [
            (1, t0, "c1", "d", "Allowed", 0.1),
            (2, t0 + dt.timedelta(minutes=1), "c1", "d", "Allowed", 0.1),
            (3, t0 + dt.timedelta(minutes=2), "c1", "d", "Blocked", 0.1),
        ],
    )
    def run(name):
        out = client_streaks_stream(spark, src, STREAM_SCHEMA)
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["client"]: (r["cur_status"], r["cur_len"], r["best_status"], r["best_len"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    got1 = run("streaks_t1")
    assert got1["c1"] == ("Blocked", 1, "Allowed", 2)

    # batch 2 continues the Blocked run; same checkpoint => state carries
    _write_batch(
        spark,
        src,
        [
            (4, t0 + dt.timedelta(minutes=3), "c1", "d", "Blocked", 0.1),
            (5, t0 + dt.timedelta(minutes=4), "c1", "d", "Blocked", 0.1),
        ],
    )
    got2 = run("streaks_t2")
    assert got2["c1"] == ("Blocked", 3, "Blocked", 3)


def test_streak_processor_logic():
    """StreakProcessor semantics without the streaming runtime (the
    runtime path is gated on protobuf): state folds across calls,
    intra-batch rows are sorted by (ts, event_id)."""
    import pandas as pd

    from piholelongtermstats_spark.streaming.stateful import StreakProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    proc = StreakProcessor()
    proc._streak = FakeState()
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")

    def batch(rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "status_type"]
        )
        out = list(proc.handleInputRows(("c1",), iter([pdf]), None))
        return out[0].iloc[0]

    # out-of-order within the batch: must fold as A,A,B
    r1 = batch([
        (3, t0 + dt.timedelta(minutes=2), "Blocked"),
        (1, t0, "Allowed"),
        (2, t0 + dt.timedelta(minutes=1), "Allowed"),
    ])
    assert (r1["cur_status"], r1["cur_len"]) == ("Blocked", 1)
    assert (r1["best_status"], r1["best_len"]) == ("Allowed", 2)

    # next batch continues the Blocked run via carried state
    r2 = batch([
        (4, t0 + dt.timedelta(minutes=3), "Blocked"),
        (5, t0 + dt.timedelta(minutes=4), "Blocked"),
    ])
    assert (r2["cur_status"], r2["cur_len"]) == ("Blocked", 3)
    assert (r2["best_status"], r2["best_len"]) == ("Blocked", 3)
    assert r2["late_rows"] == 0

    # LATE batch (r3 VERDICT #3): rows at/before the last-folded
    # (ts, event_id) must be dropped and counted, not folded — state
    # stays uncorrupted. Row 6 is earlier than last ts; row 5 is an
    # exact duplicate of the last folded (ts, event_id); row 7 is live.
    r3 = batch([
        (6, t0 + dt.timedelta(minutes=1, seconds=30), "Allowed"),  # late
        (5, t0 + dt.timedelta(minutes=4), "Allowed"),              # dup
        (7, t0 + dt.timedelta(minutes=5), "Blocked"),              # live
    ])
    assert (r3["cur_status"], r3["cur_len"]) == ("Blocked", 4)
    assert (r3["best_status"], r3["best_len"]) == ("Blocked", 4)
    assert r3["late_rows"] == 2

    # late count is cumulative and an all-late batch leaves everything
    # (including the last-folded cursor) untouched
    r4 = batch([(0, t0, "Allowed")])
    assert (r4["cur_status"], r4["cur_len"]) == ("Blocked", 4)
    assert r4["late_rows"] == 3
    r5 = batch([(8, t0 + dt.timedelta(minutes=6), "Blocked")])
    assert (r5["cur_status"], r5["cur_len"]) == ("Blocked", 5)
    assert r5["late_rows"] == 3

    # WITHIN-batch duplicates (r4 ADVICE): the same (ts, event_id)
    # arriving twice in ONE micro-batch folds once — the duplicate is
    # dropped and counted, so cur_len advances by 2, not 3
    r6 = batch([
        (9, t0 + dt.timedelta(minutes=7), "Blocked"),
        (9, t0 + dt.timedelta(minutes=7), "Blocked"),   # in-batch dup
        (10, t0 + dt.timedelta(minutes=8), "Blocked"),
    ])
    assert (r6["cur_status"], r6["cur_len"]) == ("Blocked", 7)
    assert r6["late_rows"] == 4

    # conflicting-payload duplicate: the survivor is DETERMINISTIC
    # (lexicographically-lowest payload after the full sort), whatever
    # the arrival order — here "Allowed" < "Blocked" wins both ways
    r7 = batch([
        (11, t0 + dt.timedelta(minutes=9), "Blocked"),
        (11, t0 + dt.timedelta(minutes=9), "Allowed"),  # conflict dup
    ])
    assert (r7["cur_status"], r7["cur_len"]) == ("Allowed", 1)
    assert r7["late_rows"] == 5


def test_streaming_corpus_ingest_gates_and_dedups(spark, tmp_path):
    """Quality gate + fingerprint dedup on the way in; the gate is the
    same expression tree as batch corpus_build (batch ≡ stream)."""
    from piholelongtermstats_spark.operators.corpus import quality_gate
    from piholelongtermstats_spark.streaming.corpus_ingest import (
        DOC_STREAM_SCHEMA,
        streaming_corpus_ingest,
    )

    src = str(tmp_path / "corpus_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    good = " ".join(f"w{i}" for i in range(12))
    stopy = "the a of and to in is on for with xx"
    rows1 = [
        (1, good, "en", "s", t0),
        (2, "short text", "en", "s", t0),                 # gated: < 10 tokens
        (3, stopy, "en", "s", t0),                        # gated: stop ratio
    ]
    rows2 = [
        (4, good, "en", "s", t0 + dt.timedelta(minutes=5)),  # re-crawl dup of 1
        (5, good + " tail", "en", "s", t0 + dt.timedelta(minutes=6)),
    ]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    out = streaming_corpus_ingest(spark, src)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("corpus_ingest_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT text, fingerprint FROM corpus_ingest_t1"
    ).collect()
    texts = sorted(r["text"] for r in got)
    assert texts == sorted([good, good + " tail"])  # gated out 2,3; dup 1/4 once
    # batch ≡ stream: same gate expression on the batch union keeps the
    # same fingerprint set
    batch = spark.createDataFrame(rows1 + rows2, DOC_STREAM_SCHEMA)
    want_fp = {
        r["fingerprint"]
        for r in quality_gate(batch).select("fingerprint").distinct().collect()
    }
    assert {r["fingerprint"] for r in got} == want_fp


def test_streaming_corpus_ingest_state_ages_out(spark, tmp_path):
    """Pins the bounded-state contract across restarts: a re-delivery
    INSIDE the watermark horizon stays suppressed (state recovered
    from checkpoint), and once the watermark passes, the key is
    evicted and a later re-delivery IS re-emitted — the sink's
    idempotency problem, by design."""
    from piholelongtermstats_spark.streaming.corpus_ingest import (
        DOC_STREAM_SCHEMA,
        streaming_corpus_ingest,
    )

    src = str(tmp_path / "age_src")
    ckpt = str(tmp_path / "age_ckpt")
    out_dir = str(tmp_path / "age_out")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    good = " ".join(f"w{i}" for i in range(12))
    fresh = " ".join(f"v{i}" for i in range(12))

    def _run(rows):
        # file sink (memory sink cannot recover from a checkpoint);
        # returns the CUMULATIVE emitted doc_ids across runs
        spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            streaming_corpus_ingest(spark, src, watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            r["doc_id"] for r in spark.read.parquet(out_dir).collect()
        )

    assert _run([(1, good, "en", "s", t0)]) == [1]
    # dup within horizon (state from checkpoint) suppressed; fresh doc
    # at t0+3h emitted and advances the watermark to t0+2h
    assert _run(
        [
            (2, good, "en", "s", t0 + dt.timedelta(minutes=30)),
            (3, fresh, "en", "s", t0 + dt.timedelta(hours=3)),
        ]
    ) == [1, 3]
    # key aged out (t0 + 1h < watermark) → re-delivery re-emitted
    assert _run(
        [(4, good, "en", "s", t0 + dt.timedelta(hours=2, minutes=30))]
    ) == [1, 3, 4]


def test_streaming_classifier_gate_batch_equals_stream(spark, tmp_path):
    """r5: the model-based keep gate (quality_classifier's
    integer-exact rule) composes into the streaming ingest; the
    streamed survivor set equals the batch classifier's keep set
    intersected with the heuristic gate."""
    from piholelongtermstats_spark.operators.corpus import quality_gate
    from piholelongtermstats_spark.operators.text import quality_classifier
    from piholelongtermstats_spark.streaming.corpus_ingest import (
        DOC_STREAM_SCHEMA,
        streaming_corpus_ingest,
    )

    src = str(tmp_path / "clf_src")
    t0 = dt.datetime.fromisoformat("2024-01-01T10:00:00")
    # 30 distinct long-enough docs: the pseudo-random weights split
    # them into keep/drop non-degenerately
    rows = [
        (
            i,
            " ".join(f"tok{i}w{j}" for j in range(12)),
            "en",
            "s",
            t0 + dt.timedelta(seconds=i),
        )
        for i in range(30)
    ]
    spark.createDataFrame(rows, DOC_STREAM_SCHEMA).coalesce(1).write.parquet(src)

    out = streaming_corpus_ingest(spark, src, classifier_gate=True)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("clf_gate_t1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM clf_gate_t1").collect()}

    batch = spark.createDataFrame(rows, DOC_STREAM_SCHEMA)
    heur = {r["doc_id"] for r in quality_gate(batch).select("doc_id").collect()}
    keep = {
        r["doc_id"]
        for r in quality_classifier(batch).filter("keep").select("doc_id").collect()
    }
    assert got == heur & keep
    assert 0 < len(got) < 30  # the model gate actually discriminates
