"""M55 — SCD2 point-in-time join, quality lift table."""

from __future__ import annotations

import __spark_entry__ as se
from piholelongtermstats_spark.operators import text as _text


def test_pit_enrich_alive_and_dead_probes(spark):
    """Fixture rules (plans/lakehouse.py): version 0 holds doc_id % 2 = 0,
    version 1 holds doc_id % 3 != 0. A doc divisible by 6 exists only
    at v0 (alive 0 / dead 1); an odd non-multiple-of-3 doc only at v1
    (dead 0 / alive 1); doc_id % 6 == 2 or 4 exists at both."""
    rows = se.queries()["scd2_pit_enrich"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.doc_id, {})[r.as_of_ver] = r
    for doc_id, probes in by.items():
        assert sorted(probes) == [0, 1]  # every key probed at both versions
        in_v0 = doc_id % 2 == 0
        in_v1 = doc_id % 3 != 0
        assert probes[0].is_alive == int(in_v0), doc_id
        assert probes[1].is_alive == int(in_v1), doc_id
        # a dead probe must carry NULL content and NULL validity
        for v in (0, 1):
            if probes[v].is_alive == 0:
                assert probes[v].content_md5 is None
                assert probes[v].valid_from is None
            else:
                assert probes[v].valid_from <= v <= probes[v].valid_to


def _docs_df(spark, n=40):
    """Docs that all PASS the Gopher gate (≥50 words, sane shape,
    ≥2 stopwords) but carry different classifier scores."""
    stop = "the be to of and that have with"
    rows = []
    for i in range(n):
        filler = " ".join(f"word{i}x{j}" for j in range(55))
        rows.append((i, f"{stop} {filler}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lift_table_uniform_labels_give_unit_lift(spark):
    """All docs pass the rule gate -> every decile's keep rate equals
    the overall rate exactly -> lift_ppm = 10^6 in every bucket."""
    out = _text.quality_lift_table(_docs_df(spark)).collect()
    assert sum(r.n_docs for r in out) == 40
    for r in out:
        assert r.keep_rate_ppm == 1_000_000
        assert r.lift_ppm == 1_000_000


def test_lift_table_partitions_all_scored_docs(spark):
    """Deciles tile the corpus: sizes sum to n, every decile in
    0..9, and the label-weighted identity holds (sum of n_keep
    equals the gate's total keeps)."""
    import __spark_entry__ as se2

    out = se2.queries()["quality_lift_table"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert all(0 <= r.decile <= 9 for r in out)
    n = sum(r.n_docs for r in out)
    k = sum(r.n_keep for r in out)
    assert n > 0
    # identity: Sum over deciles of n_keep*1e6/n vs overall rate
    for r in out:
        assert r.keep_rate_ppm == r.n_keep * 1_000_000 // r.n_docs
        if k > 0:
            assert r.lift_ppm == (r.n_keep * n * 1_000_000) // (r.n_docs * k)


def test_lift_table_excludes_empty_docs(spark):
    docs = _docs_df(spark, 12)
    withempty = docs.unionByName(
        spark.createDataFrame([(999, "")], "doc_id long, text string")
    )
    out = _text.quality_lift_table(withempty).collect()
    assert sum(r.n_docs for r in out) == 12  # the empty doc never scores
