r"""CCNet-style n-gram LM perplexity scoring (arXiv:1911.00359 §4.3
uses a 5-gram KenLM; the distributed shape is identical at order 2).

Real pipelines score every document with a language model and keep /
bucket by perplexity. This module trains the LM **on the corpus
itself, inside the engine** (bigram + unigram counts — two
map-side-combined groupBys) and scores every document with add-1
smoothing:

    logP(doc) = Σ_i ln( (c(w_{i-1}, w_i) + 1) / (c(w_{i-1}) + V) )

Split of responsibilities (the DSIR precedent, operators/dsir.py):

- the **sufficient statistics** (bigram counts, the model relation's
  integer fields) are exact BIGINT arithmetic → DuckDB-oracle-checked
  (`lm_bigram_topk`);
- the **log-prob edge** is irreducibly fp (ln), so `doc_logprob` is
  registered rows-only and pinned instead by a pure-Python
  differential test (tests/test_lm.py) plus the one-row-per-document
  contract (empty docs emit n_bigrams=0, sum 0 — the r6 DSIR
  empty-document lesson applied from day one).

Scale shape (100 TB): the model relation is |vocab²-observed| rows —
orders of magnitude smaller than the corpus — built by joining
bigram counts to unigram counts on w1 (counts-sized shuffle). Scoring
is ONE shuffle join of the exploded bigram stream against the model
(both sides partitioned by (w1, w2)), then a per-doc partial+final
aggregation. Nothing global-sorts; nothing collects; the V scalar
arrives via a 1-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators.text import tokens


def _bigram_structs(toks: Column) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs; [] for docs with
    fewer than 2 tokens (guarded — Spark's sequence(1, 0) would count
    DOWN, not produce an empty array)."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    return F.when(F.size(toks) >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


def bigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair.

    The input is fanned out by doc_id BEFORE the explode: a
    single-file documents table scans as one partition, and an
    unfanned explode would run the whole token blow-up on one task
    (measured 7-9 s at sf0.1 vs ~1 s fanned). The explicit partition
    count keeps AQE from coalescing the small pre-explode input back
    to one partition; the shuffle moves doc-sized rows, never the
    exploded stream."""
    fan = docs.sparkSession.sparkContext.defaultParallelism
    # tokens() projected to an ATTRIBUTE before _bigram_structs'
    # transform lambda references it (the winnowing lesson, r12
    # session 5): inlined, the split+filter re-evaluated twice per
    # pair element — the document re-tokenized ~2·n_tokens times.
    return (
        docs.repartition(fan, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(_bigram_structs(F.col("toks"))).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )


def bigram_counts(docs: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """(w1, w2, cnt) — exact corpus bigram counts.

    ``bg``: precomputed (doc_id, w1, w2) stream — pass the shared
    persisted stream when several LM queries run over the same corpus
    (the shingle-set convention, plans/corpus._shingles)."""
    bg = bg if bg is not None else bigram_stream(docs)
    return bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))


def unigram_counts(docs: DataFrame) -> DataFrame:
    """(w, cnt) — exact corpus unigram counts."""
    fan = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(fan, "doc_id")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_model(docs: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """The add-1-smoothed bigram model relation:
    (w1, w2, c12, c1, logp) with logp = ln(c12+1) − ln(c1+V)
    quantized ONCE to the exact 12-decimal grid (DECIMAL(20,12) — the
    DSIR log-ratio convention, dsir.train_log_ratios): the per-pair
    transcendental is a single ln each side of one subtraction over
    exact-integer operands, and every downstream moment (the per-doc
    logprob sum) is then exact decimal arithmetic — order-free, so
    doc scores replay bit-for-bit in the DuckDB oracle (r11: this is
    what graduated lm_doc_logprob / ppl_bucket_split from rows-only).
    The grid costs ≤5e-13 per pair — three orders below the 1e-9
    differential-test band.

    Counts-sized (≪ corpus); built from two groupBys and one
    counts-side join; V is a 1-row broadcast scalar."""
    uni = unigram_counts(docs).select(
        F.col("w").alias("w1"), F.col("cnt").alias("c1")
    )
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    return (
        bigram_counts(docs, bg=bg)
        .withColumnRenamed("cnt", "c12")
        .join(uni, "w1")
        .join(F.broadcast(v))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            (F.log(F.col("c12") + 1) - F.log(F.col("c1") + F.col("v")))
            .cast("decimal(20,12)")
            .alias("logp"),
        )
    )


def doc_logprob(docs: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, logprob_sum, avg_logprob) — one row per
    input document, including token-poor ones (n_bigrams=0, sums 0).

    Every observed pair exists in the model (trained on the same
    corpus), so the scoring join is inner with no coverage loss; the
    doc-id spine left join restores pairless documents."""
    spine = docs.select("doc_id")
    bg = bg if bg is not None else bigram_stream(docs)
    # Explicit broadcast of the model (r12, guide §3.1): the model is
    # the counts-sized side by design (bigram TYPES, ≪ corpus), but
    # the planner only has accurate size stats for the CACHED bigram
    # stream and was broadcasting THAT side (BuildLeft on the
    # corpus-sized relation — wrong at any scale). Pin the side the
    # operator's own size contract declares small.
    scored = (
        bg.join(
            F.broadcast(lm_model(docs, bg=bg).select("w1", "w2", "logp")),
            ["w1", "w2"],
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # exact decimal sum of grid-quantized logps — order-free,
            # cast to double ONCE at the edge (correctly rounded, so
            # identical across engines and partitionings)
            F.sum("logp").cast("double").alias("logprob_sum"),
        )
    )
    return spine.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.col("logprob_sum"), F.lit(0.0)).alias("logprob_sum"),
        F.when(
            F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
            F.col("logprob_sum") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("avg_logprob"),
    )


def bigram_topk(
    docs: DataFrame, k: int = 50, bg: DataFrame | None = None
) -> DataFrame:
    """Top-k bigrams by exact count, (cnt desc, w1, w2) pinned order —
    the oracle-checked integer face of the model
    (TakeOrderedAndProject, never a global sort)."""
    return (
        bigram_counts(docs, bg=bg)
        .orderBy(F.col("cnt").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


# CCNet's head/middle/tail perplexity split deliberately has no
# ntile-over-all-docs helper here: a global ntile is a SinglePartition
# window over the whole corpus. `ppl_buckets` below does it the
# engine's way — thresholds from exact value counts (histogram-ECDF
# nearest rank, the quality_percentile_blend machinery), then a
# threshold cut, never a total order.


def kneser_ney_continuations(
    docs: DataFrame, bg: DataFrame | None = None, top_k: int = 50
) -> DataFrame:
    """Kneser-Ney continuation statistics (Kneser & Ney 1995; the
    modified-KN form of Chen & Goodman 1999) — the sufficient
    statistics a KN-smoothed n-gram LM needs beyond raw counts:

    - ``cont_left(w)  = N1+(. w)`` — distinct left contexts of w,
    - ``cont_right(w) = N1+(w .)`` — distinct right continuations,
    - ``cnt(w)`` — the raw unigram count,
    - ``p_cont(w) = N1+(. w) / N1+(..)`` — the KN lower-order
      probability (the one fp division, from exact integers).

    Everything is integer aggregation over the distinct-bigram
    relation: distinct() then two groupBys (map-side combined), a
    full-outer stitch on the word, and the distinct-bigram total
    carried by a broadcast 1-row relation — no window over the vocab,
    no driver loop. Top-k by (cont_left desc, w asc) pins the order.
    """
    bg = bg if bg is not None else bigram_stream(docs)
    # counts-sized fan-out input materialized once (r12, guide §2.4):
    # pairs feeds the left-context, right-context and total legs —
    # each would otherwise re-run the corpus-wide distinct.
    pairs = bg.select("w1", "w2").distinct().localCheckpoint(eager=True)

    left = pairs.groupBy(F.col("w2").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("cont_left")
    )
    right = pairs.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("cont_right")
    )
    uni = unigram_counts(docs).select("w", F.col("cnt").cast("long").alias("cnt"))

    stitched = (
        uni.join(left, "w", "left")
        .join(right, "w", "left")
        .select(
            "w",
            "cnt",
            F.coalesce("cont_left", F.lit(0)).cast("long").alias("cont_left"),
            F.coalesce("cont_right", F.lit(0)).cast("long").alias("cont_right"),
        )
    )
    total = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"))
    return (
        stitched.join(F.broadcast(total))
        .withColumn(
            "p_cont",
            F.col("cont_left").cast("double") / F.col("n_bigram_types").cast("double"),
        )
        .select("w", "cnt", "cont_left", "cont_right", "p_cont")
        .orderBy(F.desc("cont_left"), "w")
        .limit(top_k)
    )


def ppl_buckets(docs: DataFrame, bg: DataFrame | None = None) -> DataFrame:
    """CCNet head/middle/tail perplexity split (Wenzek et al. 2020,
    arXiv:1911.00359), per language: each document's per-bigram
    negative log-prob (the monotone perplexity proxy — no exp needed
    for ordering) is bucketed at its language's exact 1/3 and 2/3
    cut points.

    This is the composition the module note above promises: NO global
    ntile. The proxy is quantized once (round(x * 1e6) → BIGINT, the
    dim-stats trick), the per-language cut points come from the
    histogram-ECDF nearest-rank rule over DISTINCT quantized values
    (cum * 3 >= i * n — integer cross-multiplication), and the bucket
    label is two integer comparisons. The per-language windows order
    distinct proxy values, never documents.

    Returns (doc_id, lang, ppl_q, bucket); bucket ∈ head/middle/tail,
    or 'empty' for documents with no bigrams (CCNet has no score for
    them — they are excluded from the cut-point histogram). Rows-only
    by the fp policy (ln() inside the proxy); pinned by the numpy
    differential in tests/test_m16.py.
    """
    lp = doc_logprob(docs, bg=bg).join(docs.select("doc_id", "lang"), "doc_id")
    scored = lp.select(
        "doc_id",
        "lang",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(-F.col("avg_logprob") * 1_000_000, 0).cast("long"),
        ).alias("ppl_q"),
    )
    # r12 (guide §2.4): the cut points are WINDOW aggregates of the
    # doc-level relation itself — no histogram groupBy, no broadcast
    # join-back, and therefore only ONE consumer of the expensive
    # bigram-explode + model-join pass (the r10 budget-gate fix used
    # an eager localCheckpoint for the two-consumer shape; this
    # removes the second consumer instead). Equivalence: cum under a
    # RANGE frame counts every row with ppl_q <= the current VALUE —
    # identical to the old distinct-value histogram ECDF (ties share
    # one cum) — and n / t1 / t2 are full-partition aggregates of the
    # same integers. Docs with no bigrams partition separately on the
    # has-score flag (they were filtered out of the histogram before),
    # so they never perturb cum/n; their t1/t2 are unused — the
    # bucket expression labels them 'empty' first.
    has = F.col("ppl_q").isNotNull()
    wp = Window.partitionBy("lang", has)
    cum = F.count(F.lit(1)).over(
        wp.orderBy("ppl_q").rangeBetween(Window.unboundedPreceding, 0)
    )
    n = F.count(F.lit(1)).over(wp)
    ranked = scored.select(
        "doc_id", "lang", "ppl_q", cum.alias("_cum"), n.alias("_n")
    )
    t1 = F.min(
        F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("ppl_q"))
    ).over(wp)
    t2 = F.min(
        F.when(F.col("_cum") * 3 >= 2 * F.col("_n"), F.col("ppl_q"))
    ).over(wp)
    return ranked.select(
        "doc_id",
        "lang",
        "ppl_q",
        F.when(F.col("ppl_q").isNull(), F.lit("empty"))
        .when(F.col("ppl_q") <= t1, F.lit("head"))
        .when(F.col("ppl_q") <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def pmi_top_bigrams(
    docs: DataFrame, bg: DataFrame | None = None, min_count: int = 5, top_k: int = 50
) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church
    & Hanks 1990): top-k bigrams by association lift
    ``c12 * N / (c1 * c2)``.

    PMI = log2(lift) is monotone in lift, so the RANKING needs no
    logarithm: both products are exact BIGINT, the division is the
    single fp step, rounded to 6 decimals with the identical
    expression on both engines (the cosine round(...,6) convention),
    and (lift desc, w1, w2) pins ties. ``min_count`` drops the
    classic PMI pathology (hapax pairs score highest).

    Scale shape: three counts-sized relations (bigram, unigram twice)
    joined on their words — counts-sized shuffles, a 1-row broadcast
    for N, and TakeOrderedAndProject for the top-k. The corpus is
    touched only by the two counting passes.
    """
    # vocab-sized fan-out input materialized once (r12, guide §2.4):
    # uni feeds n_total and both word-side relations — each would
    # otherwise re-run the corpus-wide unigram counting pass.
    uni = unigram_counts(docs).localCheckpoint(eager=True)
    n_tok = uni.agg(F.sum("cnt").cast("long").alias("n_total"))
    c1 = uni.select(F.col("w").alias("w1"), F.col("cnt").cast("long").alias("c1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("cnt").cast("long").alias("c2"))
    big = (
        bigram_counts(docs, bg=bg)
        .withColumnRenamed("cnt", "c12")
        .filter(F.col("c12") >= int(min_count))
    )
    return (
        big.join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            "c1",
            "c2",
            F.round(
                (F.col("c12") * F.col("n_total")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(top_k)
    )


def oov_rate(docs: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Per-language out-of-vocabulary rate against the corpus's own
    top-``vocab_size`` unigram vocabulary — the tokenizer-coverage
    evaluation a vocab/tokenizer choice is judged by.

    The vocabulary is deterministic (cnt desc, w — a
    TakeOrderedAndProject, never a vocab sort) and broadcast; the
    token stream left-joins it and aggregates per language —
    integer counts, ONE final division.
    """
    vocab = (
        unigram_counts(docs)
        .orderBy(F.desc("cnt"), "w")
        .limit(int(vocab_size))
        .select("w", F.lit(True).alias("_in_vocab"))
    )
    fan = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.repartition(fan, "doc_id")
        .select("lang", F.explode(tokens(F.col("text"))).alias("w"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
