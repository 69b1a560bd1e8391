"""M58 — trained-index recall audit (r9 VERDICT #4):

``trained_ann_recall_panel`` — one row per TRAINED vector-index family
with the integer overlap of its top-k result against the exact cosine
truth over the fixed query set: (family, n_queries, k, hits,
recall_ppm). The six ``_trained`` registry entries were pure
rows-only trust-me's — their oracle-checked twins pin the UNTRAINED
machinery, but no checked statement existed about the trained path.
This panel makes the trained path's retrieval quality a deterministic,
driver-recordable number: the trainers are deterministic (Lloyd on a
deterministic subsample, session-cached), both legs are deterministic
plans, and every output except the one DIV is a BIGINT count.

ORACLE-CHECKED since r11 (r10 VERDICT #4): "training is not one SQL
statement" stopped being a blocker once the trainers were unrolled
into fixed-iteration CTE chains (plans/oracle_train.py, the
pagerank_top graduation protocol) — each leg's trained quantizer now
replays inside its own registered oracle, and the panel SQL composes
those legs verbatim as derived tables. The pytest value pins
(tests/test_m58.py: recall floors per family, exact-k hit caps,
determinism across invocations) stay as defense in depth.

semdedup's trained path is deliberately not in the panel: it is a
dedup (cell-assignment) operator, not a retrieval index — its trained
quality is audited by semdedup_cell_margins (registry_m38).

Scale: every leg is a k-row-per-query relation; the overlap join and
the final union are driver-negligible. The trained quantizers come
from the same session caches the ``_trained`` entries use — train
once, audit free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import knn, similarity
from piholelongtermstats_spark.plans.registry import register
from piholelongtermstats_spark.plans.registry_m7 import (
    _emb,
    q_ivf_ann_topk_trained,
    q_pq_ann_topk_trained,
)
from piholelongtermstats_spark.plans.registry_m9 import q_ivfpq_ann_topk_trained
from piholelongtermstats_spark.plans.registry_m10 import q_knn_join_ivf_trained

_K1 = 10  # single-query families serve top-10 (their registry contract)

# ---------------------------------------------------------------------------
# Panel oracle (r10 VERDICT #4 — the register-replay close-out): every
# trained leg is now SQL-replayable via the unrolled Lloyd chains
# (oracle_train.py), so the panel's hits/recall become plain
# intersection counts between leg subqueries — DuckDB allows a full
# WITH...SELECT as a derived table, so each leg's registered oracle
# embeds verbatim. This zeroes the driver's one `no_oracle` TOP_50 row.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.plans.registry_m7 import (  # noqa: E402
    _IVF_TR_SQL,
    _PQ_TR_SQL,
)
from piholelongtermstats_spark.plans.registry_m9 import _IVFPQ_TR_SQL  # noqa: E402
from piholelongtermstats_spark.plans.registry_m10 import (  # noqa: E402
    _KNN_JOIN_SQL,
    _KNN_TR_SQL,
)

_EX1_SQL = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _hits1(leg_sql: str) -> str:
    """Integer overlap of a single-query leg's top-10 with the exact
    cosine truth (the _overlap left-semi count)."""
    return (
        "(SELECT CAST(count(*) AS BIGINT)"
        f" FROM ({leg_sql}) a JOIN ({_EX1_SQL}) e USING (vec_id))"
    )


_PANEL_SQL = f"""
WITH hitrows AS (
  SELECT 'ivf_trained' AS family, CAST(1 AS BIGINT) AS n_queries,
         CAST({_K1} AS BIGINT) AS k, {_hits1(_IVF_TR_SQL)} AS hits
  UNION ALL
  SELECT 'ivfpq_trained', 1, {_K1}, {_hits1(_IVFPQ_TR_SQL)}
  UNION ALL
  SELECT 'pq_trained', 1, {_K1}, {_hits1(_PQ_TR_SQL)}
  UNION ALL
  SELECT 'sphknn_trained', {knn.N_QUERIES}, {knn.K},
         (SELECT CAST(count(*) AS BIGINT)
          FROM ({_KNN_TR_SQL}) a
          JOIN ({_KNN_JOIN_SQL}) e USING (query_id, vec_id))
)
SELECT family, n_queries, k, hits,
       CAST(hits * 1000000 // (n_queries * k) AS BIGINT) AS recall_ppm
FROM hitrows ORDER BY family
"""


def _overlap(
    exact: DataFrame,
    approx: DataFrame,
    family: str,
    n_queries: int,
    k: int,
) -> DataFrame:
    """One row: integer overlap of two (query_id, vec_id) top-k
    relations; recall_ppm = hits·10⁶ DIV (n_queries·k) — integer
    FLOOR division (the ann_eval_metrics convention, r8 ADVICE)."""
    hits = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return hits.select(
        F.lit(family).alias("family"),
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        "hits",
        F.expr(f"hits * 1000000 DIV {n_queries * k}").alias("recall_ppm"),
    )


@register(
    "trained_ann_recall_panel",
    _PANEL_SQL,
    budget=(
        4.5,
        "five-leg composite audit - every"
        " trained index family plus both exact-truth legs scans the"
        " corpus once by design (~2.7s)",
    ),
)
def q_trained_ann_recall_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every trained retrieval index vs the exact cosine
    truth (operators/knn.py, ivf.py, pq.py, ivfpq.py, semdedup.py).
    Oracle-checked since r11: each leg replays its trainer as
    unrolled Lloyd CTEs (oracle_train.py) and the panel reduces to
    intersection counts over the leg subqueries."""
    emb = _emb(spark, sf_dir)
    # The exact leg feeds three overlap branches — materialize its 10
    # rows once (eager localCheckpoint, the cograph convention) so the
    # corpus scan doesn't re-execute per union branch.
    exact1 = (
        similarity.cosine_topk(emb, 0, _K1)
        .select(F.lit(0).alias("query_id"), "vec_id")
        .localCheckpoint(eager=True)
    )
    # One query-vector fetch for all three single-query legs: each leg
    # builder used to run its own `emb.filter(vec_id==0).first()` probe
    # — three identical driver jobs per panel build (r13, guide §1.2 /
    # §5 "the driver should do almost no data work").
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
    )
    qv = list(qrow["v"]) if qrow is not None else None
    panels = []
    for family, qfn in (
        ("ivf_trained", q_ivf_ann_topk_trained),
        ("ivfpq_trained", q_ivfpq_ann_topk_trained),
        ("pq_trained", q_pq_ann_topk_trained),
    ):
        approx = qfn(spark, sf_dir, qv=qv).select(
            F.lit(0).alias("query_id"), "vec_id"
        )
        panels.append(_overlap(exact1, approx, family, 1, _K1))
    exact8 = knn.knn_join(emb).select("query_id", "vec_id")
    approx8 = q_knn_join_ivf_trained(spark, sf_dir).select(
        "query_id", "vec_id"
    )
    panels.append(
        _overlap(exact8, approx8, "sphknn_trained", knn.N_QUERIES, knn.K)
    )
    out = panels[0]
    for p in panels[1:]:
        out = out.unionByName(p)
    return out  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
