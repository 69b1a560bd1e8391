"""M32 — CSV ingestion with quarantine (sources/csvsource.py): the
JSONL ingest contract on the other interchange format. The fixture
export deterministically corrupts every doc_id % MOD == 0 row's
numeric field, so the oracle reproduces the good/quarantine split
from the documents view by arithmetic alone; text rides base64 so
the audit hashes the EXACT original bytes after round-trip.
"""

from __future__ import annotations

import hashlib as _hashlib
import os as _os
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.registry import _docs, register
from piholelongtermstats_spark.sources import csvsource as _csv

_CSV_MOD = 17
_CSV_READY: set = set()


def _csv_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_csv",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _CSV_READY:
        _csv.write_documents_csv(
            _docs(spark, sf_dir), root, corrupt_mod=_CSV_MOD
        )
        _CSV_READY.add(key)
    return root


_CSV_SQL = f"""
SELECT
  CAST(count(*) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS n_good,
  CAST(count(*) FILTER (WHERE doc_id % {_CSV_MOD} = 0) AS BIGINT) AS n_quarantined,
  CAST(sum(doc_id) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_id_sum,
  CAST(sum(n_chars) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_chars,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_text_hashsum
FROM documents
"""


@register("csv_ingest_check", _CSV_SQL)
def q_csv_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good/quarantine split of the corrupted CSV export, audited by
    counts + an order-independent text hash sum against the parquet
    source (sources/csvsource.py)."""
    root = _csv_root(spark, sf_dir)
    good, bad = _csv.read_documents_csv(spark, root)
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("doc_id").alias("good_id_sum"),
        F.sum("n_chars").alias("good_chars"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "good_text_hashsum"
        ),
    )
    b = bad.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.crossJoin(b).select(
        "n_good", "n_quarantined", "good_id_sum", "good_chars",
        "good_text_hashsum",
    )
