"""Round-2 hardening: regression tests for the judge/advisor findings
(VERDICT.md r1 "Next round" items).

Covers: broadcast-side fix in top_domain_top_client, de-broadcast +
stop-shingle df_cap path in ngram_jaccard_pairs, pointer-jumping
connected components (deep chains + convergence error), hardened
embedding near-dup (adaptive planes, bucket cap, recall), zero-filled
client_activity, streak stitching across month boundaries,
and a 100k-row two-DB SQLite ingest round trip.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import sqlite3

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_fact


# ---------------------------------------------------------------------------
# duplicate_clusters: pointer jumping
# ---------------------------------------------------------------------------

def test_clusters_deep_chain_converges(spark):
    """A 100-node path (diameter 99) must converge — min-label alone
    needs 99 rounds (> the 50 cap); pointer jumping needs ~log2."""
    from piholelongtermstats_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert len(got) == 100
    assert set(got.values()) == {0}


def test_clusters_two_components_and_order_independence(spark):
    from piholelongtermstats_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (20, 22), (21, 22)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20}


def test_clusters_raises_on_round_cap(spark):
    """Hitting max_rounds without a fixpoint must raise, not return
    wrong labels silently (ADVICE r1)."""
    from piholelongtermstats_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_rounds=2).collect()


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs: df_cap candidate path
# ---------------------------------------------------------------------------

def _docs_df(spark):
    """Small corpus with planted near-dup pairs sharing doc-specific
    shingles plus a corpus-wide stop phrase."""
    stop = "the quick brown fox jumps"
    rows = []
    for i in range(12):
        body = f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"
        rows.append((2 * i, f"{stop} {body}"))
        # near-dup partner: one trailing token differs
        rows.append((2 * i + 1, f"{stop} {body[:-1]}9"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_df_cap_matches_exact(spark):
    """With the stop-shingle cap active (the stop phrase appears in
    all 24 docs, df ≫ cap) the candidate path must still return the
    exact pair set with the exact Jaccard values: candidates come from
    rare shingles, scores are re-computed over ALL shingles."""
    from piholelongtermstats_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs_df(spark)
    exact = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, 0.5).collect()
    )
    capped = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, 0.5, df_cap=4).collect()
    )
    assert exact and capped == exact


def test_jaccard_no_per_doc_broadcast(spark):
    """The sizes join must not carry a broadcast hint (ADVICE r1): at
    corpus scale `sizes` is one row per document."""
    from piholelongtermstats_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs_df(spark)
    plan = ngram_jaccard_pairs(docs, 0.5)._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in plan, plan


# ---------------------------------------------------------------------------
# embedding near-dup: adaptive planes / bucket cap / recall
# ---------------------------------------------------------------------------

def _planted_embeddings(spark, n_base=30, dim=8):
    rng = random.Random(42)
    rows = []
    vid = 0
    for _ in range(n_base):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((vid, "base", v))
        vid += 1
        # planted near-duplicate: tiny perturbation => cosine ~ 1
        rows.append((vid, "dup", [x + rng.gauss(0, 0.01) for x in v]))
        vid += 1
    return rows, spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )


def _true_pairs(rows, threshold):
    out = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i][2], rows[j][2]
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            if round(dot / (na * nb), 6) >= threshold:
                out.add((rows[i][0], rows[j][0]))
    return out


def test_near_dup_recall_and_exact_scores(spark):
    from piholelongtermstats_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rows, emb = _planted_embeddings(spark)
    truth = _true_pairs(rows, 0.95)
    assert len(truth) >= 25  # the planted dups are really there
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, 0.95).collect()
    }
    # every returned pair is a true pair with its exact cosine
    assert set(got) <= truth
    # bucketing keeps near-identical vectors together: high recall
    assert len(got) / len(truth) >= 0.8, (len(got), len(truth))


def test_near_dup_bucket_cap_bounds_candidates(spark):
    from piholelongtermstats_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rows, emb = _planted_embeddings(spark)
    full = embedding_near_dup_pairs(emb, 0.95).collect()
    capped = embedding_near_dup_pairs(emb, 0.95, bucket_cap=4).collect()
    pairs_full = {(r["vec_a"], r["vec_b"]) for r in full}
    pairs_capped = {(r["vec_a"], r["vec_b"]) for r in capped}
    assert pairs_capped <= pairs_full
    # with ≤4 rows per bucket, each bucket contributes ≤6 pairs
    assert len(pairs_capped) <= 6 * 16


def test_near_dup_adaptive_planes():
    """Plane count grows with corpus size: ~target-sized buckets."""
    from piholelongtermstats_spark.operators import similarity as s

    for n, expected in ((500, 4), (10**6, 12), (10**9, 22)):
        planes = max(
            s.N_PLANES,
            math.ceil(math.log2(n / s.TARGET_BUCKET)) if n > s.TARGET_BUCKET else s.N_PLANES,
        )
        assert planes == expected, (n, planes)


# ---------------------------------------------------------------------------
# client_activity zero-fill
# ---------------------------------------------------------------------------

def test_client_activity_zero_fills_hour_spine(spark):
    """Reference plot.py:321-331 builds pd.date_range from the
    client-FILTERED series' own min/max — zeros between the client's
    first and last active hour, nothing outside that span, and an
    EMPTY frame for an absent client (the 'no data' figure,
    plot.py:297-319)."""
    from piholelongtermstats_spark.operators import plotdata, timeagg

    fact = make_fact(
        spark,
        [
            (1, "2024-01-01T00:10:00", "10.0.0.1", "a.com", "Allowed", 0.01),
            (2, "2024-01-01T03:20:00", "10.0.0.1", "a.com", "Allowed", 0.01),
            (3, "2024-01-01T05:30:00", "10.0.0.2", "b.com", "Blocked", 0.02),
        ],
    )
    rollup = timeagg.hourly_rollup(fact)
    rows = {
        r["hour_bucket"].hour: r["cnt"]
        for r in plotdata.client_activity(rollup, "10.0.0.1").collect()
    }
    # spine spans the CLIENT's range (hours 0..3): hour 5 (another
    # client's activity) is NOT padded; hours 1-2 are zero-filled
    assert sorted(rows) == [0, 1, 2, 3]
    assert rows[0] == 1 and rows[3] == 1
    assert rows[1] == rows[2] == 0
    # absent client → empty result, not an all-zero spine
    assert plotdata.client_activity(rollup, "ghost").count() == 0


# ---------------------------------------------------------------------------
# streak stitching by other-status offsets
# ---------------------------------------------------------------------------

def test_streaks_stitch_across_month_boundaries(spark):
    """A streak spanning Jan→Feb→Mar must stitch through whole months
    and match the single-window global formulation row-for-row.
    Blocked events in December and earlier in January give the run a
    non-zero month offset that differs from its January date offset,
    so the month level is what keeps the run whole."""
    from piholelongtermstats_spark.operators.sequential import (
        longest_streaks,
        longest_streaks_stitched,
    )

    rows, eid = [], 0
    for iso in ("2023-12-20T08:00:00", "2024-01-10T08:00:00", "2024-01-11T08:00:00"):
        rows.append((eid, iso, "c2", "b.com", "Blocked", 0.02))
        eid += 1
    # Jan 28 .. Mar 3: one long Allowed run covering a full month
    # boundary plus interleaved Blocked bursts inside single days
    day = dt.datetime(2024, 1, 28, 12, 0, 0)
    while day <= dt.datetime(2024, 3, 3):
        rows.append((eid, day.isoformat(), "c1", "a.com", "Allowed", 0.01))
        eid += 1
        day += dt.timedelta(hours=13)
    for iso in ("2024-03-04T01:00:00", "2024-03-04T02:00:00",
                "2024-03-04T03:00:00", "2024-03-05T09:00:00"):
        rows.append((eid, iso, "c2", "b.com", "Blocked", 0.02))
        eid += 1
    fact = make_fact(spark, rows)
    want = sorted(map(tuple, longest_streaks(fact).collect()))
    got = sorted(map(tuple, longest_streaks_stitched(fact).collect()))
    assert got == want
    # the Allowed streak really crosses both month boundaries
    allowed = [r for r in got if r[0] == "Allowed"][0]
    assert allowed[1] == len([r for r in rows if r[4] == "Allowed"])


def test_streaks_stitched_no_date_level_global_window(spark):
    """The only unpartitioned window may order the MONTH-reduced
    sequence; a global window ordered by raw date (_d first) would be
    the r1 shape the offset-keyed stitch removes."""
    import re

    from piholelongtermstats_spark.operators.sequential import (
        longest_streaks_stitched,
    )

    fact = make_fact(
        spark, [(1, "2024-01-01T00:10:00", "c", "d.com", "Allowed", 0.01)]
    )
    plan = longest_streaks_stitched(fact)._jdf.queryExecution().optimizedPlan().toString()
    bad = re.findall(r"windowspecdefinition\(_d#\d+L? ASC", plan)
    assert not bad, bad


# ---------------------------------------------------------------------------
# SQLite ingest round trip at 100k rows
# ---------------------------------------------------------------------------

DDL = """CREATE TABLE queries (
  id INTEGER, timestamp INTEGER, type INTEGER, status INTEGER,
  domain TEXT, client TEXT, forward TEXT, additional_info TEXT,
  reply_type INTEGER, reply_time REAL, dnssec INTEGER, list_id TEXT,
  ede INTEGER)"""


def _mk_db(path, rows):
    conn = sqlite3.connect(path)
    conn.execute(DDL)
    conn.executemany(
        "INSERT INTO queries VALUES (?,?,?,?,?,?,?,?,?,?,?,?,?)", rows
    )
    conn.commit()
    conn.close()


def test_sqlite_100k_two_db_roundtrip(spark, tmp_path):
    """S6 end-to-end at scale: two 50k-row DBs sharing a 10k-row
    overlap → ingest_to_parquet → preprocess → aggregate surface.
    Duplicates are KEPT (reference app.py:144-154 concats, never
    dedups), and the date-partitioned layout round-trips exactly."""
    from piholelongtermstats_spark.functions.derive import preprocess
    from piholelongtermstats_spark.sources.sqlite import ingest_to_parquet

    t0 = 1_700_000_000
    row = lambda i: (
        i, t0 + i * 7, 1, 2 if i % 3 else 1, f"dom{i % 997}.com",
        f"10.0.{i % 4}.{i % 19}", None, None, 0,
        0.001 * (i % 50), 0, None, 0,
    )
    db1 = str(tmp_path / "a.db")
    db2 = str(tmp_path / "b.db")
    _mk_db(db1, [row(i) for i in range(50_000)])
    # db2: 10k duplicated ids/rows + 40k fresh
    _mk_db(db2, [row(i) for i in range(40_000, 90_000)])
    out = str(tmp_path / "pq")
    ingest_to_parquet(spark, [db1, db2], out)

    raw = spark.read.parquet(out)
    assert raw.count() == 100_000  # duplicates kept
    fact = preprocess(raw).withColumnRenamed("id", "event_id")
    by_status = {
        r["status_type"]: r["n"]
        for r in fact.groupBy("status_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # status 1 => Blocked (i % 3 == 0), status 2 => Allowed
    assert by_status["Blocked"] == sum(1 for i in range(50_000) if i % 3 == 0) + sum(
        1 for i in range(40_000, 90_000) if i % 3 == 0
    )
    assert by_status["Allowed"] + by_status["Blocked"] == 100_000
    # the duplicated block really is double-counted per-domain
    dup_dom = (
        fact.filter(F.col("event_id") == 40_000).select("domain").first()["domain"]
    )
    n_dom = fact.filter(
        (F.col("event_id") == 40_000) & (F.col("domain") == dup_dom)
    ).count()
    assert n_dom == 2
