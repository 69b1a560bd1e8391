"""Sequence packing — the concat-then-chunk manifest a pretraining
pipeline computes before writing training shards.

Beyond-reference capability (SURVEY §2.12 tier): GPT-style packing
concatenates every document's tokens in a canonical order and slices
the stream into fixed ``seq_len`` chunks; a document may straddle a
chunk boundary. The manifest assigns each document its global token
offset and the [first_chunk, last_chunk] span it lands in — exactly a
PREFIX SUM over documents in doc_id order.

The naive formulation is a global-order window (``sum() OVER (ORDER
BY doc_id)``) — a single-task stage over the whole corpus, the same
scale failure the sequential tier avoids (SURVEY §2.6). The
distributed decomposition here is the classic two-level scan:

  1. bucket documents by ``doc_id DIV id_bucket`` and prefix-sum
     WITHIN each bucket (windows partitioned by bucket — parallel);
  2. bucket totals form a summary of ~|corpus|/id_bucket rows; the
     only unpartitioned window runs over THAT (one row per bucket —
     at 10¹⁰ docs and id_bucket 10⁶ that is 10⁴ rows, trivially
     single-task safe). ``id_bucket`` therefore SCALES WITH THE
     CORPUS: pick ≈ √|corpus| (or |corpus|/10⁴) so neither the
     per-bucket window nor the summary window degenerates — the
     default 64 is sized for the ~10²-10⁴-doc test corpora, NOT for
     production;
  3. each document's global offset = its within-bucket prefix + the
     exclusive prefix of bucket totals.

Identical results to the global window by associativity of addition
(exact BIGINT token counts — no float). tests/test_packing.py pins
the differential equivalence and the plan property (no unpartitioned
window over corpus rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators.text import md5_hash60


def concat_chunk_manifest(
    docs: DataFrame, seq_len: int = 512, id_bucket: int = 64
) -> DataFrame:
    """(doc_id, n_tok, start_off, first_chunk, last_chunk) for packing
    the corpus, in doc_id order, into ``seq_len``-token chunks.

    ``start_off`` is the document's global token offset (0-based);
    first/last_chunk are the chunk indices of its first and last
    token. An empty document (n_tok = 0) gets last_chunk =
    first_chunk − 1 — a well-defined empty span, same value the SQL
    oracle computes.
    """
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    base = docs.select("doc_id", n_tok.alias("n_tok")).withColumn(
        "_b", (F.col("doc_id") / id_bucket).cast("long")
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("_cum_in", F.sum("n_tok").over(w_in))
    totals = base.groupBy("_b").agg(F.sum("n_tok").alias("_tot"))
    # exclusive prefix over the per-bucket summary — the ONLY
    # unpartitioned window, sized |corpus| / id_bucket
    w_b = (
        Window.orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_b), F.lit(0))
    ).select("_b", "_off")
    cum = within.join(offsets, "_b").withColumn(
        "_cum", F.col("_cum_in") + F.col("_off")
    )
    start = F.col("_cum") - F.col("n_tok")
    return cum.select(
        "doc_id",
        "n_tok",
        start.alias("start_off"),
        F.floor(start / F.lit(float(seq_len))).cast("long").alias("first_chunk"),
        F.floor((F.col("_cum") - 1) / F.lit(float(seq_len)))
        .cast("long")
        .alias("last_chunk"),
    )


# ---------------------------------------------------------------------------
# Epoch shuffle — deterministic training order
# ---------------------------------------------------------------------------

KEY_SPACE = 1 << 60  # md5_hash60 range


def epoch_shuffle(
    docs: DataFrame,
    epoch: int = 1,
    n_shards: int = 8,
    key_buckets: int = 256,
) -> DataFrame:
    """Deterministic per-epoch global shuffle manifest:
    (doc_id, shard, global_pos).

    A training pipeline needs a DIFFERENT, REPRODUCIBLE document
    order every epoch without materializing a permutation on the
    driver. The shuffle key is md5_hash60('epoch:<e>:' || doc_id) — a
    seeded pseudo-random 60-bit value, identical in DuckDB — and the
    epoch order is simply ascending key (doc_id tie-break on the
    ~2⁻⁶⁰-probability collisions). ``shard`` = key % n_shards gives
    the writer its output-file assignment with a uniform, epoch-
    varying document-to-shard mapping.

    ``global_pos`` (the document's rank in the epoch order) is the
    same prefix-sum shape as concat_chunk_manifest, computed with the
    same two-level scan: keys are uniform on [0, 2⁶⁰), so slicing the
    KEY SPACE into ``key_buckets`` equal ranges buckets the corpus
    evenly; rank-within-bucket windows are partitioned (parallel) and
    the only unpartitioned window orders the ~key_buckets-row count
    summary. Pick key_buckets ≈ √|corpus| at scale (default 256 is
    sized for the test corpora).
    """
    span = KEY_SPACE // key_buckets
    key = md5_hash60(
        F.concat(F.lit(f"epoch:{epoch}:"), F.col("doc_id").cast("string"))
    )
    base = docs.select("doc_id", key.alias("_key")).withColumn(
        "_b", F.expr(f"_key DIV {span}")
    )
    w_in = Window.partitionBy("_b").orderBy("_key", "doc_id")
    within = base.withColumn("_rn", F.row_number().over(w_in))
    counts = base.groupBy("_b").agg(F.count("*").alias("_cnt"))
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_b), F.lit(0))
    ).select("_b", "_off")
    return (
        within.join(offsets, "_b")
        .select(
            "doc_id",
            (F.col("_key") % n_shards).alias("shard"),
            (F.col("_rn") - 1 + F.col("_off")).cast("long").alias("global_pos"),
        )
    )


def epoch_pack_manifest(
    docs: DataFrame,
    epoch: int = 1,
    seq_len: int = 512,
    key_buckets: int = 256,
) -> DataFrame:
    """Per-epoch packing manifest: the concat-then-chunk prefix sum
    computed in the EPOCH'S shuffled order instead of doc_id order —
    what a pretraining pipeline materializes each epoch (shuffle, then
    pack the shuffled stream into fixed-length sequences).

    Same two-level scan as concat_chunk_manifest, but bucketed by the
    epoch key's range slice (uniform ⇒ balanced, as in epoch_shuffle):
    per-bucket token prefix sums are windows partitioned by bucket and
    ordered by (key, doc_id); the only unpartitioned window sums the
    ~key_buckets-row bucket totals. Output: (doc_id, n_tok,
    start_off, first_chunk, last_chunk) where start_off is the
    document's token offset in the EPOCH order.
    """
    span = KEY_SPACE // key_buckets
    key = md5_hash60(
        F.concat(F.lit(f"epoch:{epoch}:"), F.col("doc_id").cast("string"))
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    base = docs.select(
        "doc_id", n_tok.alias("n_tok"), key.alias("_key")
    ).withColumn("_b", F.expr(f"_key DIV {span}"))
    w_in = (
        Window.partitionBy("_b")
        .orderBy("_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("_cum_in", F.sum("n_tok").over(w_in))
    totals = base.groupBy("_b").agg(F.sum("n_tok").alias("_tot"))
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_b), F.lit(0))
    ).select("_b", "_off")
    cum = within.join(offsets, "_b").withColumn(
        "_cum", F.col("_cum_in") + F.col("_off")
    )
    start = F.col("_cum") - F.col("n_tok")
    return cum.select(
        "doc_id",
        "n_tok",
        start.alias("start_off"),
        F.floor(start / F.lit(float(seq_len))).cast("long").alias("first_chunk"),
        F.floor((F.col("_cum") - 1) / F.lit(float(seq_len)))
        .cast("long")
        .alias("last_chunk"),
    )


CHUNK_WINDOW = 32
CHUNK_STRIDE = 24


def chunk_documents(
    docs: DataFrame,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep pass
    for documents longer than the model's sequence length: token
    windows of ``window`` starting every ``stride`` tokens (overlap =
    window − stride carries context across boundaries), last window
    truncated at the document end.

    Chunk count = 1 + ceil((n − window)/stride) for n > window, else 1
    — exact integer arithmetic, mirrored in the oracle. Pure Column:
    sequence() + explode fans out per-doc chunk ids (linear in chunk
    volume, no shuffle at all — chunking fuses into the scan), then
    slice() windows the token array. At 100 TB this is the map-side
    stage immediately before pack_manifest/epoch_shuffle; nothing is
    materialized per token, only per chunk."""
    from piholelongtermstats_spark.operators.text import tokens

    toks = tokens(F.col("text"))
    n = F.size(toks).cast("long")
    n_chunks = F.when(
        n > window,
        F.lit(1)
        + F.floor((n - window + (stride - 1)) / stride).cast("long"),
    ).otherwise(F.lit(1).cast("long"))
    base = docs.select(
        "doc_id",
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    start = (F.col("chunk_id") * stride).cast("int")
    piece = F.slice(F.col("_toks"), start + 1, window)
    return base.select(
        "doc_id",
        "chunk_id",
        F.size(piece).cast("long").alias("chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )
