"""Top-level run_dashboard flow (reference app.py:120-197 contract)."""

from __future__ import annotations

import datetime as dt

import pytest
from pandas.testing import assert_frame_equal
from pyspark import StorageLevel

from piholelongtermstats_spark.api import reload, run_dashboard
from piholelongtermstats_spark.operators import plotdata, stats
from tests.conftest import make_fact

SF = "/root/testdata/sf0.001"
EXCLUDE_TEENS = [r'"k": 1[0-9]}']


def test_full_run_produces_both_contracts(spark):
    res = run_dashboard(spark, SF)
    assert res["stats"]["total_queries"] > 0
    assert set(res["plot_data"]) >= {
        "top_clients_stacked", "blocked_df", "allowed_df", "reply_time_df",
        "client_list", "client_domain_scatter_df", "day_hour_heatmap",
        "blocked_day_hour_heatmap", "allowed_day_hour_heatmap", "top_clients",
    }
    assert res["hourly_agg"].count() > 0
    res["fact"].unpersist()


def test_range_and_exclusion_parameters(spark):
    full = run_dashboard(spark, SF, collect_plots=False)
    windowed = reload(
        spark,
        full,
        parquet_dir=SF,
        start_date="2024-01-05",
        end_date="2024-01-10",
        collect_plots=False,
    )
    assert 0 < windowed["stats"]["total_queries"] < full["stats"]["total_queries"]
    # exclusive end: events on Jan 10 are included, Jan 11 not
    assert windowed["stats"]["max_date"].startswith("10-1-2024")

    excluded = reload(
        spark, windowed, parquet_dir=SF, exclude_patterns=[".*"],
        collect_plots=False,
    )
    assert excluded["stats"]["total_queries"] <= full["stats"]["total_queries"]
    excluded["fact"].unpersist()


def test_dashboard_owns_the_fact_cache_until_reload(spark):
    """run_dashboard persists the fact for the stats jobs, the plot
    payloads and the rollup: it must still be cached when returned,
    and reload must release it."""
    first = run_dashboard(spark, SF, collect_plots=False)
    assert first["fact"].storageLevel != StorageLevel.NONE
    second = reload(
        spark, first, parquet_dir=SF, start_date="2024-01-05",
        end_date="2024-01-10", collect_plots=False,
    )
    assert first["fact"].storageLevel == StorageLevel.NONE
    assert second["fact"].storageLevel != StorageLevel.NONE
    second["fact"].unpersist()


def test_failed_run_releases_the_fact(spark, monkeypatch):
    """When the stats step raises, the caller never receives the fact,
    so run_dashboard must release it before re-raising."""
    seen = []

    def boom(fact):
        seen.append(fact)
        raise RuntimeError("stats failed")

    monkeypatch.setattr(stats, "compute_stats", boom)
    cache = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache.isEmpty()
    with pytest.raises(RuntimeError, match="stats failed"):
        run_dashboard(spark, SF)
    assert seen and seen[0].storageLevel == StorageLevel.NONE
    assert cache.isEmpty() == was_empty


def _compiled_classes(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far
    (cache hits are not counted)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_reload_reuses_generated_code(spark):
    """A reload of about 240 generated classes must find them in the
    codegen cache the session was built with (CODEGEN_CACHE_ENTRIES).
    At Spark's default of 100 entries every reload evicted its own
    classes and compiled all of them again."""
    params = dict(exclude_patterns=[r"ads\."], collect_plots=True)
    first = run_dashboard(
        spark, SF, start_date="2024-01-03", end_date="2024-01-20", **params
    )
    before = _compiled_classes(spark)
    second = reload(
        spark, first, parquet_dir=SF, start_date="2024-01-05",
        end_date="2024-01-25", **params,
    )
    compiled = _compiled_classes(spark) - before
    second["fact"].unpersist()
    assert second["stats"]["total_queries"] > 0
    assert compiled <= 25, f"second reload compiled {compiled} classes"


# frames whose row order is part of the contract (ORDER BY ... LIMIT)
ORDERED_FRAMES = {"top_clients", "blocked_df", "allowed_df"}


def _assert_payload_matches_lazy(payload: dict, fact) -> None:
    """The collected payload equals toPandas of generate_plot_data's
    lazy frames: same names, columns, column order and dtypes; the
    ordered frames row for row, the rest as sorted rows."""
    lazy = {n: df.toPandas() for n, df in plotdata.generate_plot_data(fact).items()}
    assert list(payload) == list(lazy)
    for name, want in lazy.items():
        got = payload[name]
        if name not in ORDERED_FRAMES:
            cols = list(want.columns)
            want = want.sort_values(cols, ignore_index=True)
            got = got.sort_values(cols, ignore_index=True)
        assert_frame_equal(got, want, obj=name)


def _t(i: int) -> str:
    return (dt.datetime(2024, 1, 1) + dt.timedelta(minutes=37 * i)).isoformat()


LONG_X = "a" * 20 + "x" * 10 + "b" * 20  # both ellipsize to a*20...b*20
LONG_Y = "a" * 20 + "y" * 10 + "b" * 20
TIED_CLIENTS = ["c0"] * 9 + ["c1"] * 8 + ["c2"] * 7 + ["c3"] * 6 + ["c4", "c5", "c6"] * 5
# each status has 45 events over 12 domains: 9 get 4, 3 tie at 3 for 10th
PAYLOAD_FIXTURES = {
    "all_blocked": [
        (i, _t(i), f"c{i % 6}", f"d{i % 13}.com", "Blocked", 0.002 * i) for i in range(60)
    ],
    "null_reply_time": [
        (i, _t(i), f"c{i % 6}", f"d{i % 13}.com", ("Allowed", "Blocked", "Other")[i % 3], None)
        for i in range(60)
    ],
    "ellipsized_collision": [
        (i, _t(i), f"c{i % 4}", d, ("Blocked", "Allowed")[i % 2], 0.01)
        for i, d in enumerate([LONG_X] * 4 + [LONG_Y] * 3 + [f"s{k}.com" for k in range(12)] * 5)
    ],
    "ties_at_5th_client_and_10th_domain": [
        (i, _t(i), TIED_CLIENTS[i % 45], f"{'da'[i // 45]}{i % 12:02d}",
         ("Blocked", "Allowed")[i // 45], 0.01)
        for i in range(90)
    ],
    "null_client": [
        (i, _t(i), None if i % 3 == 0 else f"c{i % 5}", f"d{i % 7}.com",
         ("Allowed", "Blocked")[i % 2], 0.01)
        for i in range(60)
    ],
}


@pytest.mark.parametrize(
    "window",
    [
        {},
        {"start_date": "2024-01-10", "end_date": "2024-01-10", "exclude_patterns": EXCLUDE_TEENS},
        {"exclude_patterns": [".*"]},
    ],
    ids=["full_span", "one_day_excluded", "empty"],
)
def test_reload_payload_matches_lazy_frames(spark, window):
    """run_dashboard's plot payload, built on the driver from the stats
    collect, equals the lazy frames it replaces."""
    res = run_dashboard(spark, SF, collect_plots=True, **window)
    try:
        _assert_payload_matches_lazy(res["plot_data"], res["fact"])
    finally:
        res["fact"].unpersist()


@pytest.mark.parametrize("case", sorted(PAYLOAD_FIXTURES))
def test_payload_matches_lazy_frames_on_edge_facts(spark, case):
    """The same equality on constructed facts, through the two calls
    run_dashboard makes: the edge cases sf0.001 lacks (one status,
    NULL reply times, ellipsis collisions, rank ties, a NULL client)."""
    fact = make_fact(spark, PAYLOAD_FIXTURES[case]).persist()
    try:
        summary = stats.compute_stats(fact)
        _assert_payload_matches_lazy(plotdata.to_payload(fact, summary.groups), fact)
    finally:
        fact.unpersist()


def test_plotted_reload_job_budget(spark):
    """A plotted reload runs the stats collect plus one scatter
    aggregate: at most 25 Spark jobs (49 when each plot frame ran its
    own toPandas)."""
    sc = spark.sparkContext
    first = run_dashboard(spark, SF, exclude_patterns=EXCLUDE_TEENS)
    group = "plotted-reload"
    sc.setJobGroup(group, "one plotted reload")
    try:
        second = reload(
            spark, first, parquet_dir=SF, start_date="2024-01-03",
            end_date="2024-01-25", exclude_patterns=EXCLUDE_TEENS,
        )
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(list(sc.statusTracker().getJobIdsForGroup(group)))
    second["fact"].unpersist()
    assert jobs <= 25, f"a plotted reload ran {jobs} jobs"


def test_build_corpus_surface(spark):
    from piholelongtermstats_spark.api import build_corpus
    from piholelongtermstats_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    res = build_corpus(
        spark,
        docs,
        mix_rates={"en": 0.5},
        fuzzy_dedup=True,
        k_per_lang=25,
        decontaminate_mod=29,
        span_dedup=True,
    )
    manifest = res["manifest"]
    assert manifest.columns == ["doc_id", "lang", "n_tokens", "rn"]
    assert manifest.filter("rn > 25").count() == 0
    assert set(res) == {"manifest", "survivors", "contamination", "span_cleaned"}
    assert res["survivors"].filter("kept = 1").count() > 0
    assert res["contamination"].columns == ["bench_id", "best_match", "overlap"]
    assert res["span_cleaned"].columns == [
        "doc_id", "n_spans", "kept_spans", "removed_spans", "clean_text"
    ]
    # uncapped manifest: no rn column, superset of every capped group
    uncapped = build_corpus(spark, docs)["manifest"]
    assert uncapped.columns == ["doc_id", "lang", "n_tokens"]


def test_build_corpus_training_stages(spark):
    from piholelongtermstats_spark.api import build_corpus
    from piholelongtermstats_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    res = build_corpus(
        spark,
        docs,
        embeddings=emb,
        quality_model=True,
        pack_seq_len=256,
        shuffle_epoch=2,
    )
    assert set(res) == {
        "manifest",
        "semantic_survivors",
        "quality_scores",
        "pack_manifest",
        "epoch_order",
    }
    n_emb = emb.count()
    n_surv = res["semantic_survivors"].count()
    assert 0 < n_surv <= n_emb
    qs = res["quality_scores"]
    assert qs.columns == ["doc_id", "n_tokens", "weight_sum", "score", "keep"]
    pm = res["pack_manifest"]
    assert pm.columns == ["doc_id", "n_tok", "start_off", "first_chunk", "last_chunk"]
    eo = res["epoch_order"]
    assert eo.columns == ["doc_id", "shard", "global_pos"]
    n_docs = docs.count()
    assert sorted(r["global_pos"] for r in eo.collect()) == list(range(n_docs))


def test_build_corpus_temperature_stage(spark):
    from piholelongtermstats_spark.api import build_corpus
    from piholelongtermstats_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    flat = build_corpus(spark, docs, temperature=True)["manifest"]
    base = build_corpus(spark, docs)["manifest"]
    n_flat, n_base = flat.count(), base.count()
    assert 0 < n_flat < n_base
    # flattening narrows the per-lang spread of the gated manifest
    def spread(df):
        counts = [r["c"] for r in df.groupBy("lang").agg(F.count("*").alias("c")).collect()]
        return max(counts) / max(min(counts), 1)

    from pyspark.sql import functions as F

    assert spread(flat) <= spread(base) * 1.5


def test_build_corpus_scrub_and_chunk_stages(spark):
    from piholelongtermstats_spark.api import build_corpus
    from piholelongtermstats_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    res = build_corpus(spark, docs, pii_scrub=True, chunk_window=16, chunk_stride=12)
    scrubbed = res["pii_scrubbed"]
    assert scrubbed.columns == ["doc_id", "n_emails", "n_phones", "n_ips", "scrubbed"]
    # synthetic corpus carries no organic PII — scrub is a verified no-op
    agg = scrubbed.groupBy().sum("n_emails", "n_phones", "n_ips").first()
    assert tuple(agg) == (0, 0, 0)
    chunks = res["chunks"]
    assert chunks.columns == ["doc_id", "chunk_id", "chunk_tokens", "chunk_md5"]
    assert chunks.count() >= docs.count()  # every doc yields ≥1 chunk
    assert chunks.filter("chunk_tokens > 16").count() == 0


def test_build_corpus_snapshot_stage(spark, tmp_path):
    from piholelongtermstats_spark.api import build_corpus
    from piholelongtermstats_spark.sources import snapshots
    from piholelongtermstats_spark.sources.parquet import load_table

    docs = load_table(spark, SF, "documents")
    root = str(tmp_path / "corpus_versions")
    v0 = build_corpus(spark, docs, snapshot_root=root)["snapshot_version"]
    v1 = build_corpus(spark, docs, min_tokens=20, snapshot_root=root)[
        "snapshot_version"
    ]
    assert (v0, v1) == (0, 1)
    n0 = snapshots.read_snapshot(spark, root, 0).count()
    n1 = snapshots.read_snapshot(spark, root, 1).count()
    assert n1 <= n0  # stricter gate never grows the corpus
    diff = snapshots.snapshot_diff(spark, root, 0, 1)
    kinds = {r.change_type for r in diff.collect()}
    assert kinds <= {"removed"}  # tightening only removes


def test_register_views_sql_surface(spark):
    from piholelongtermstats_spark.api import register_views

    names = register_views(spark, SF)
    assert "events_fact" in names and "documents" in names
    n = spark.sql("SELECT count(*) AS n FROM events_fact").first().n
    assert n > 0
    top = spark.sql(
        "SELECT client, count(*) AS c FROM events_fact "
        "GROUP BY client ORDER BY c DESC, client LIMIT 1"
    ).first()
    assert top.c > 0
    assert spark.sql(
        "SELECT count(*) AS n FROM hourly_rollup_view"
    ).first().n > 0
