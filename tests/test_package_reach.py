"""No package code that only tests reach.

Every top-level ``def``/``class`` under piholelongtermstats_spark/ must
be named somewhere outside tests/ (the package itself, scripts,
bench.py, the driver entry, perfbench), or be one of the public entry
points listed below. Registered ``q_*`` queries are reached through
``@register`` and are skipped. A reference implementation that only a
test compares against belongs in that test file.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "piholelongtermstats_spark"

# Public entry points that callers outside this repo use; tests are
# their only in-repo callers.
ENTRY_POINTS = {
    "build_corpus",
    "register_views",
    "release_documents_csv",
    "streaming_corpus_ingest",
    "client_streaks_stream",
    "shard_of",
    "latest_sketch",
    "attach_recorder",
    "detach_recorder",
    "start_bars_to_memory",
    "start_enriched_to_memory",
    "start_ewma_to_memory",
    "start_hh_to_memory",
    "start_conversions_to_memory",
    "start_rollup_to_memory",
    "start_rollup_upsert",
    "start_sliding_to_memory",
    "start_snapshot_sink",
    "start_merge_sink",
    "start_domain_counts_to_memory",
    "start_zscore_to_memory",
}


def _sources_outside_tests():
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if parts[0] == "tests" or any(p.startswith(".") for p in parts):
            continue
        if parts[0] == "spark-warehouse":
            continue
        yield path


def _is_registered(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
        for d in node.decorator_list
    )


def test_every_package_definition_is_reached_outside_tests():
    words = Counter()
    for path in _sources_outside_tests():
        words.update(re.findall(r"\w+", path.read_text()))
    defs = Counter()
    for path in PKG.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                if not _is_registered(node):
                    defs[node.name] += 1
    # a name reached only by its own definition(s)
    unreached = {name for name, n in defs.items() if words[name] <= n}
    assert unreached == ENTRY_POINTS
