"""M27 — matrix-sketch wave:

- ``fd_sketch_spectrum`` (rows-only: SVD fp edge, the trained-index
  class) — top singular values of the embedding matrix via a
  distributed Frequent-Directions sketch (Liberty KDD'13; mergeable
  per-partition sketches, one P·ℓ·d-double shuffle independent of n).
  pytest pins exact recovery under capacity and the 2‖A‖_F²/ℓ
  spectral bound against numpy (tests/test_fd.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import fd
from piholelongtermstats_spark.plans.registry import _emb, register


@register(
    "fd_sketch_spectrum",
    rows_only="SVD fp edge, numpy-pinned",
    funnel_waiver=(
        "FD sketch merge (operators/fd.py): mapInPandas emits <= ell "
        "(=2*k) sketch rows PER PARTITION regardless of input rows — "
        "the repartition(1) moves P*ell rows (P = #partitions), never "
        "the embedding relation. Bounded by the streaming-sketch "
        "contract, invisible to the physical plan. (fd_spectrum_audit "
        "runs the same merge, but eagerly inside the query function — "
        "its RETURNED plan is a literal relation, so the gate never "
        "sees that funnel and it needs no waiver.)"
    ),
)
def q_fd_sketch_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed FD sketch spectrum, ℓ=16 over the 64-dim corpus
    (operators/fd.py). Raw sigmas stay rows-only; the accuracy
    contract is hash-checked by fd_spectrum_audit below."""
    return fd.fd_sketch_spectrum(_emb(spark, sf_dir), ell=16, dim=64, top=8)


# Graduated companion (r11 VERDICT #3): the sketch VALUES are an fp
# edge, but the Liberty CONTRACT is auditable — the frame carries the
# exact data tie-ins (n_rows, quantized Frobenius) that DuckDB
# recomputes bit-identically, plus the per-rank verdicts the oracle
# pins as the PROMISE (1). A sketch that overestimates a singular
# value, busts the 2‖A‖_F²/ℓ deficit bound, or exceeds the exact
# Frobenius mass now hash-fails the driver gate instead of only
# pytest (tests/test_fd.py keeps the numeric legs).
_FD_AUDIT_SQL = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(list_sum(list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)
                  * CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT))))
              AS BIGINT) AS fro2_q
  FROM embeddings)
SELECT CAST(rr.range + 1 AS BIGINT) AS rank, s.n_rows, s.fro2_q,
       CAST(1 AS INT) AS not_over,
       CAST(1 AS INT) AS within_bound,
       CAST(1 AS INT) AS fro_contained
FROM s CROSS JOIN range(8) rr
"""


@register("fd_spectrum_audit", _FD_AUDIT_SQL)
def q_fd_spectrum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD accuracy-contract audit vs the exact distributed Gramian
    spectrum (operators/fd.py:fd_spectrum_audit)."""
    return fd.fd_spectrum_audit(_emb(spark, sf_dir), ell=16, dim=64, top=8)
