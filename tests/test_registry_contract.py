"""The registry contract: query names, oracle SQL, the driver window
and the per-query policy declared at each register(...) site.

The two hashes pin every (name, oracle SQL) pair and the first-50
driver order; a refactor of the registry must leave both unchanged.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from piholelongtermstats_spark.plans import META, ORACLE, QUERIES, TOP_50
from piholelongtermstats_spark.plans.registry import register

NAMES_AND_ORACLES = "83213647ee4216ac354b0f3b5eb77b3bcac70e41b520017aef8d8dcd0d3b738a"
DRIVER_WINDOW = "05996531e2cf74011ec9d4cc0e7daf09bec1eb79d82c225f9caaabf91dab82f4"


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def test_names_and_oracles_are_pinned():
    assert _sha([[n, ORACLE.get(n)] for n in sorted(QUERIES)]) == NAMES_AND_ORACLES


def test_driver_window_is_pinned():
    assert list(QUERIES)[:50] == TOP_50
    assert _sha(list(QUERIES)[:50]) == DRIVER_WINDOW


def test_rows_only_entries_sort_last():
    names = list(QUERIES)
    checked = [i for i, n in enumerate(names) if n in ORACLE]
    rows_only = [i for i, n in enumerate(names) if n not in ORACLE]
    assert rows_only and max(checked) < min(rows_only)
    assert list(ORACLE) == [n for n in names if n in ORACLE]
    assert list(META) == names


def test_every_unchecked_entry_says_why():
    for name, meta in META.items():
        assert (name in ORACLE) == (meta.rows_only is None), name
        if name not in ORACLE:
            assert len(meta.rows_only) > 20, name
        if meta.budget is not None:
            ceiling, reason = meta.budget
            assert ceiling > 0 and len(reason) > 20, name
        if meta.funnel_waiver is not None:
            assert len(meta.funnel_waiver) > 40, name


@pytest.mark.parametrize(
    "kwargs",
    [{}, {"oracle": "SELECT 1", "rows_only": "both an oracle and a reason"}],
)
def test_register_needs_exactly_one_of_oracle_and_rows_only(kwargs):
    with pytest.raises(ValueError, match="exactly one of oracle and rows_only"):
        register("not_a_query", **kwargs)
    assert "not_a_query" not in QUERIES
