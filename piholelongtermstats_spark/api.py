"""Top-level user API — the reference's load→process→serve flow.

Reference: ``load_and_process_data`` + the layout/reload callbacks
(app.py:120-197, 1056-1104). A reference user drives everything with
(db paths | parquet dir, date range or lookback days, timezone,
exclusion patterns) and gets back the stats dict plus the plot-data
frames; the reload button is a parameterized re-run (SURVEY §3.2).
This module is that same contract on the Spark engine:

    result = run_dashboard(spark, parquet_dir="/data/events",
                           days=31, timezone="Europe/Berlin",
                           exclude_patterns=[r"ads\\."])
    result["stats"]              # ~60-scalar dict (§2.11 contract 1)
    result["plot_data"]          # 10 pandas frames (§2.11 contract 2)
    result["hourly_agg"]         # resident rollup DataFrame (serve path)

Time-range bounds resolve driver-side (sources/daterange.py, the S7
exclusive-end contract) and are applied in the RAW storage domain so
they reach the parquet scan (sources/events.py). The enriched fact is
persisted once per run — every downstream consumer shares it. The
stats dict and 9 of the 10 plot frames come from one collect
(operators/stats.py); the scatter frame is one more small aggregate.
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.functions.exclude import exclude_domains
from piholelongtermstats_spark.operators import plotdata, stats, timeagg
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.daterange import date_range_epochs
from piholelongtermstats_spark.sources.events import dns_fact


def run_dashboard(
    spark: SparkSession,
    parquet_dir: str,
    start_date: str | None = None,
    end_date: str | None = None,
    days: int | None = None,
    timezone: str | None = None,
    exclude_patterns: list[str] | None = None,
    collect_plots: bool = True,
) -> dict[str, Any]:
    """One parameterized run: range-scan → exclude → enrich → stats +
    plot frames + resident rollup. Re-invoking with new parameters IS
    the reload (app.py:1056-1104) — no engine state to reset beyond
    unpersisting the returned fact.

    With ``collect_plots`` the plot frames are pandas, built by
    plotdata.to_payload from the rows compute_stats collected; without
    it they are generate_plot_data's lazy DataFrames."""
    ensure_session_defaults(spark)

    lo = hi = None
    if (start_date and end_date) or days is not None:
        lo_s, hi_s = date_range_epochs(start_date, end_date, days, timezone)
        lo = dt.datetime.fromtimestamp(lo_s, dt.timezone.utc)
        hi = dt.datetime.fromtimestamp(hi_s, dt.timezone.utc)

    fact = dns_fact(spark, parquet_dir, lo=lo, hi=hi)
    fact = exclude_domains(fact, exclude_patterns)
    fact = fact.persist()

    try:
        summary = stats.compute_stats(fact)
        return {
            "stats": summary,
            "plot_data": (
                plotdata.to_payload(fact, summary.groups)
                if collect_plots
                else plotdata.generate_plot_data(fact)
            ),
            "hourly_agg": timeagg.hourly_rollup(fact),
            "fact": fact,
        }
    except BaseException:
        # the caller never receives the fact, so nothing else can
        # release it
        fact.unpersist()
        raise


def reload(spark: SparkSession, previous: dict[str, Any], **params) -> dict[str, Any]:
    """Reference reload semantics: drop the old working set, re-run
    with new parameters."""
    old: DataFrame | None = previous.get("fact")
    if old is not None:
        old.unpersist()
    return run_dashboard(spark, **params)


def build_corpus(
    spark: SparkSession,
    documents: DataFrame,
    min_tokens: int = 10,
    max_stop_ratio: tuple[int, int] = (6, 10),
    mix_rates: dict[str, float] | None = None,
    temperature: bool = False,
    fuzzy_dedup: bool = False,
    k_per_lang: int | None = None,
    decontaminate_mod: int | None = None,
    span_dedup: bool = False,
    embeddings: DataFrame | None = None,
    semantic_threshold: float | None = None,
    quality_model: bool = False,
    pack_seq_len: int | None = None,
    shuffle_epoch: int | None = None,
    pii_scrub: bool = False,
    chunk_window: int | None = None,
    chunk_stride: int | None = None,
    snapshot_root: str | None = None,
) -> dict[str, Any]:
    """Beyond-reference convenience surface for the corpus tier
    (SURVEY §2.12): one call composing quality gate → (optional) mix
    reweighting → dedup → (optional) per-language cap, returning lazy
    DataFrames — nothing is collected, the caller picks the sinks.

    - ``fuzzy_dedup=False``: exact-fingerprint dedup inside
      `corpus.corpus_build` (one declarative plan).
    - ``fuzzy_dedup=True``: LSH near-dup clusters → `dedup_survivors`
      labels are returned alongside, for corpora where byte-identical
      dedup is not enough.
    - ``decontaminate_mod``: also return the per-benchmark-doc max
      containment frame (`contamination_overlap`).
    - ``span_dedup``: also return the span-level cleaned corpus
      (`corpus.span_dedup` — repeated cross-document 10-token chunks
      removed everywhere, documents reassembled in order).
    - ``embeddings`` + ``semantic_threshold``: also run SemDeDup
      (`operators/semdedup.py`, trained spherical k-means path) over
      the embedding table and return the semantic survivor set.
    - ``quality_model``: also return the hashed-linear classifier
      frame (`text.quality_classifier`) — per-doc score + keep.
    - ``pack_seq_len``: also return the concat-then-chunk packing
      manifest (`packing.concat_chunk_manifest`) at that seq_len.
    - ``shuffle_epoch``: also return the deterministic epoch training
      order (`packing.epoch_shuffle`) for that epoch.
    - ``pii_scrub``: also return the typed PII redaction frame
      (`text.pii_scrub` — scrubbed text + per-type counts).
    - ``chunk_window``: also return the sliding-window chunk manifest
      (`packing.chunk_documents`; ``chunk_stride`` defaults to the
      module default when unset).
    - ``snapshot_root``: also COMMIT the manifest as the next
      immutable corpus version under that root
      (`sources/snapshots.write_snapshot`) and return its number —
      the reproducibility contract: retrains reference the frozen
      version, `snapshot_diff` audits what a rebuild changed.

    Returns {"manifest", "survivors"?, "contamination"?,
    "span_cleaned"?, "semantic_survivors"?, "quality_scores"?,
    "pack_manifest"?, "epoch_order"?, "pii_scrubbed"?, "chunks"?,
    "snapshot_version"?} — each a DataFrame (the version an int) ready for
    `.write` (the 100 TB path) or `.collect()` (tests).
    """
    from piholelongtermstats_spark.operators import corpus as corpus_ops
    from piholelongtermstats_spark.operators import dedup as dedup_ops

    ensure_session_defaults(spark)
    docs = documents
    if mix_rates:
        docs = corpus_ops.mix_sample(docs, mix_rates)
    if temperature:
        # τ=1/2 flattening with data-derived rates (temperature_mix);
        # composes after explicit mix_rates — rates first, flatten
        # what remains
        docs = corpus_ops.temperature_mix(docs)
    num, den = max_stop_ratio
    manifest = corpus_ops.corpus_build(
        docs,
        min_tokens=min_tokens,
        stop_num=num,
        stop_den=den,
        k_per_lang=k_per_lang,
    )
    out: dict[str, Any] = {"manifest": manifest}
    if fuzzy_dedup:
        pairs = dedup_ops.lsh_candidate_pairs(docs)
        clusters = dedup_ops.duplicate_clusters_star(pairs)
        out["survivors"] = corpus_ops.dedup_survivors(docs, clusters)
    if decontaminate_mod is not None:
        sh = dedup_ops.shingles(docs)
        out["contamination"] = corpus_ops.contamination_overlap(
            sh, bench_mod=decontaminate_mod
        )
    if span_dedup:
        out["span_cleaned"] = corpus_ops.span_dedup(docs)
    if embeddings is not None:
        from piholelongtermstats_spark.operators import semdedup as semdedup_ops

        kwargs = (
            {} if semantic_threshold is None else {"threshold": semantic_threshold}
        )
        out["semantic_survivors"] = semdedup_ops.semantic_dedup(
            embeddings, **kwargs
        )
    if quality_model:
        from piholelongtermstats_spark.operators import text as text_ops

        out["quality_scores"] = text_ops.quality_classifier(docs)
    if pack_seq_len is not None:
        from piholelongtermstats_spark.operators import packing as packing_ops

        out["pack_manifest"] = packing_ops.concat_chunk_manifest(
            docs, seq_len=pack_seq_len
        )
    if shuffle_epoch is not None:
        from piholelongtermstats_spark.operators import packing as packing_ops

        out["epoch_order"] = packing_ops.epoch_shuffle(docs, epoch=shuffle_epoch)
    if pii_scrub:
        from piholelongtermstats_spark.operators import text as text_ops

        out["pii_scrubbed"] = text_ops.pii_scrub(docs)
    if chunk_window is not None:
        from piholelongtermstats_spark.operators import packing as packing_ops

        kwargs = {"window": chunk_window}
        if chunk_stride is not None:
            kwargs["stride"] = chunk_stride
        out["chunks"] = packing_ops.chunk_documents(docs, **kwargs)
    if snapshot_root is not None:
        from piholelongtermstats_spark.sources import snapshots

        out["snapshot_version"] = snapshots.write_snapshot(
            manifest, snapshot_root
        )
    return out


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """SQL surface: register the enriched fact, the resident hourly
    rollup, and every raw testdata table as TEMP VIEWS so users query
    with plain `spark.sql(...)` — the switch-over contract for a
    dashboard user who writes SQL instead of the Python API. Views are
    lazy plans over the same shared cached inputs the registry uses;
    registering costs nothing until queried."""
    from piholelongtermstats_spark.operators.timeagg import hourly_rollup
    from piholelongtermstats_spark.sources.parquet import load_table

    ensure_session_defaults(spark)
    names: list[str] = []
    fact = dns_fact(spark, sf_dir)
    fact.createOrReplaceTempView("events_fact")
    names.append("events_fact")
    hourly_rollup(fact).createOrReplaceTempView("hourly_rollup_view")
    names.append("hourly_rollup_view")
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        try:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
            names.append(t)
        except Exception:  # noqa: BLE001 - table absent in this sf_dir
            continue
    return names
