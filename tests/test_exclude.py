"""Regex exclusion semantics (reference tests: test_process.py:14-110)."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.exclude import exclude_domains, is_valid_regex


def test_regex_validity_table():
    """process.py:11-24 (test_process.py:14-49)."""
    assert is_valid_regex(r"ads\..*")
    assert is_valid_regex(".*")
    assert not is_valid_regex("")
    assert not is_valid_regex("[unclosed")
    assert not is_valid_regex(None)
    assert not is_valid_regex(123)


def _frame(spark):
    return spark.createDataFrame(
        [(1, "ads.tracker.com"), (2, "good.site.org"), (3, None), (4, "ads.net")],
        "id long, domain string",
    )


def test_exclusion_removes_matches(spark):
    out = exclude_domains(_frame(spark), [r"ads\."]).collect()
    assert sorted(r["id"] for r in out) == [2, 3]


def test_nulls_survive_exclusion(spark):
    """na=False ⇒ NULL domains kept (process.py:38-39)."""
    out = exclude_domains(_frame(spark), [".*"]).collect()
    assert [r["id"] for r in out] == [3]


def test_invalid_pattern_is_noop(spark):
    """Invalid regex skipped, not raised (process.py:40-43)."""
    out = exclude_domains(_frame(spark), ["[unclosed"]).collect()
    assert len(out) == 4


@pytest.mark.parametrize("pattern", ["(?P<a>ads)", "(?#c)ads"])
def test_python_only_pattern_is_skipped_with_warning(spark, caplog, pattern):
    """Python ``re`` compiles these, Java regex (rlike) does not: the
    pattern is skipped with the warning while the valid one filters."""
    assert not is_valid_regex(pattern)
    with caplog.at_level(logging.WARNING):
        out = exclude_domains(_frame(spark), [pattern, r"\.net$"]).collect()
    assert sorted(r["id"] for r in out) == [1, 2, 3]
    assert any(
        "Skipping invalid regex pattern" in r.getMessage() and pattern in r.getMessage()
        for r in caplog.records
    )


def test_no_patterns_is_identity(spark):
    assert exclude_domains(_frame(spark), []).count() == 4
    assert exclude_domains(_frame(spark), None).count() == 4


def test_multiple_patterns_conjunctive(spark):
    out = exclude_domains(_frame(spark), [r"tracker", r"\.net$"]).collect()
    assert sorted(r["id"] for r in out) == [2, 3]


def test_dialect_parity_with_python_re(spark):
    """The reference filters with Python `re` (pandas str.contains);
    we execute Java regex via rlike. For the domain-exclusion pattern
    surface (literals, escaped dots, classes, anchors, alternation,
    quantifiers) the dialects must agree row-for-row — this
    differential pins that claim (SURVEY §2.2 P3)."""
    import re as pyre

    patterns = [
        r"ads\..*", r"^track", r"\.net$", r"(doubleclick|adservice)",
        r"[0-9]+\.metrics", r"a.?s", r"cdn[0-9]{2}", r"^(?!x)ads",  # lookahead
    ]
    domains = [
        "ads.tracker.com", "track.er.org", "good.site.net", "adservice.io",
        "cdn01.ads.net", "07.metrics.example", "aXs.example", "xads.example",
        "ads", "ADS.example",
    ]
    df = spark.createDataFrame([(d,) for d in domains], "domain string")
    for p in patterns:
        if not is_valid_regex(p):
            continue
        got = sorted(
            r["domain"] for r in df.filter(F.col("domain").rlike(p)).collect()
        )
        want = sorted(d for d in domains if pyre.search(p, d))
        assert got == want, (p, got, want)
