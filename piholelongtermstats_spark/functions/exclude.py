"""Regex domain-exclusion filter.

Reference: ``filter_domains`` (piholelongtermstats/process.py:27-44)
with the validity pre-check ``_is_valid_regex`` (process.py:11-24) and
the per-pattern application loop (app.py:165-170). Semantics to keep:

- each pattern removes rows whose domain *contains* a regex match
  (pandas ``str.contains(regex=True)`` is unanchored — same as rlike);
- ``na=False`` ⇒ NULL domains are **kept**, never excluded
  (process.py:38-39);
- an invalid regex is skipped with a warning, never an error
  (process.py:40-43).

The validity check runs driver-side (it is per-pattern, not per-row —
SURVEY.md §2.10 U3). The reference validates with Python ``re``, but
``rlike`` executes Java regex, and some patterns compile in only one
dialect (``(?P<name>...)`` groups and ``(?#...)`` comments are Python
only). A pattern is therefore valid only if both Python ``re`` and
``java.util.regex.Pattern`` compile it; a Python-only pattern is
skipped with the warning instead of failing the job.
"""

from __future__ import annotations

import logging
import re

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def is_valid_regex(pattern: str) -> bool:
    """Driver-side regex validity check (process.py:11-24) in both
    dialects: Python ``re``, and Java regex (what ``rlike`` runs)
    whenever a SparkContext is running — always the case when
    ``exclude_domains`` is filtering a DataFrame."""
    if not isinstance(pattern, str) or pattern == "":
        return False
    try:
        re.compile(pattern)
    except re.error:
        return False
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc._jvm.java.util.regex.Pattern.compile(pattern)
        # PatternSyntaxException, converted by PySpark's py4j handler
        except (IllegalArgumentException, Py4JJavaError):
            return False
    return True


def exclude_domains(
    df: DataFrame, patterns: list[str] | None, domain_col: str = "domain"
) -> DataFrame:
    """Drop rows whose domain matches any valid pattern; keep NULLs.

    Mirrors process.py:27-44 + the loop at app.py:165-170. All valid
    patterns fold into one conjunctive filter so Catalyst sees a single
    predicate (one scan, pushdown-friendly) instead of the reference's
    N sequential passes.
    """
    if not patterns:
        return df
    dom = F.col(domain_col)
    pred = None
    for pattern in patterns:
        if not is_valid_regex(pattern):
            logger.warning("Skipping invalid regex pattern: %r", pattern)
            continue
        keep = dom.isNull() | ~dom.rlike(pattern)
        pred = keep if pred is None else (pred & keep)
    return df if pred is None else df.filter(pred)
