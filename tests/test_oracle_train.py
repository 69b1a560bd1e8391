"""Guards for plans/oracle_train.py — the unrolled-Lloyd trainer
replay behind the r11 trained-tier graduations.

Two layers:
 1. structural: the generated CTE chains contain exactly the
    iteration count asked for, the documented final relation names,
    and the right assignment score per metric — a silent change to
    the generator shape fails here with a string, not as a mystery
    parity mismatch;
 2. behavioral edge: on an EMPTY corpus both engines yield zero rows
    through the full trained search (the Spark trainer returns [] and
    searches nothing; the SQL seed CTE is empty so every downstream
    relation is empty) — the one input class the parity suite never
    sees because the driver corpora are non-empty.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

from piholelongtermstats_spark.plans.oracle_train import (
    lloyd_cents_ctes,
    lloyd_pq_ctes,
)


def test_cents_chain_structure():
    sql = lloyd_cents_ctes(
        "x_", n_cells=16, n_iters=3, dim=8, metric="l2", pred="vec_id % 4 = 0"
    )
    # one assignment/means/carry triple per iteration
    for i in (1, 2, 3):
        for stem in ("a", "m", "c"):
            assert f"x_{stem}{i} AS (" in sql, (stem, i)
    assert "x_a4" not in sql
    # final relation under the documented name, fed by the last iter
    assert "x_cent AS (SELECT cell, c FROM x_c3)" in sql
    # subsample predicate reaches the training relation
    assert "FROM v WHERE vec_id % 4 = 0" in sql
    # l2 score: v·c − |c|²/2 (argmin distance), ties → lowest cell
    assert "- 0.5 * list_dot_product" in sql
    # member mean: one avg per dimension
    assert sql.count("avg(v[") == 3 * 8


def test_cents_chain_cosine_score():
    sql = lloyd_cents_ctes("s_", n_cells=4, n_iters=1, dim=4, metric="cos")
    assert "/ sqrt(list_dot_product" in sql
    assert "- 0.5 *" not in sql
    assert "s_cent AS (SELECT cell, c FROM s_c1)" in sql
    # no predicate → full corpus trains
    assert re.search(r"s_tr AS \(SELECT vec_id, v FROM v\)", sql)


def test_pq_chain_structure():
    sql = lloyd_pq_ctes("p_", n_sub=8, n_codes=16, n_iters=2, dim=64)
    for i in (1, 2):
        for stem in ("pa", "pm", "cb"):
            assert f"p_{stem}{i} AS (" in sql, (stem, i)
    assert "p_pa3" not in sql
    assert "p_cb AS (SELECT s, code, c FROM p_cb2)" in sql
    # shared whole-vector seeds split per subspace: subdim-sized slices
    assert "list_slice(v, t.s * 8 + 1, (t.s + 1) * 8)" in sql
    # member mean over the 8-dim subvector per iteration
    assert sql.count("avg(vs[") == 2 * 8


def test_trained_oracles_empty_corpus_yield_zero_rows():
    """Run the real registered trained-IVF and trained-knn oracles
    against an empty embeddings table: every leg must degrade to zero
    rows (matching the Spark side's empty-index contract pinned in
    tests/test_empty_inputs.py / test_knn.py)."""
    from piholelongtermstats_spark.plans.retrieval import _IVF_TR_SQL, _KNN_TR_SQL

    con = duckdb.connect()
    empty = pd.DataFrame(
        {"vec_id": pd.Series([], dtype="int64"),
         "label": pd.Series([], dtype="int32"),
         "embedding": pd.Series([], dtype="object")}
    )
    con.register("embeddings", empty)
    assert con.execute(_IVF_TR_SQL).fetchall() == []
    assert con.execute(_KNN_TR_SQL).fetchall() == []
