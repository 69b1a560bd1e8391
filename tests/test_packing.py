"""Sequence-packing manifest (operators/packing.py): the distributed
two-level prefix sum must equal the naive global-window formulation
row-for-row on awkward inputs (sparse/non-contiguous doc_ids, empty
docs, bucket boundaries), and its plan may not contain an
unpartitioned window over corpus rows."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import packing
from piholelongtermstats_spark.operators.text import md5_hash60


def concat_chunk_manifest_global(
    docs: DataFrame, seq_len: int = 512
) -> DataFrame:
    """Single-global-window reference formulation of
    packing.concat_chunk_manifest (one task over the whole corpus)."""
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = docs.select("doc_id", n_tok.alias("n_tok")).withColumn(
        "_cum", F.sum("n_tok").over(w)
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


def epoch_shuffle_global(
    docs: DataFrame, epoch: int = 1, n_shards: int = 8
) -> DataFrame:
    """Single-global-window reference formulation of
    packing.epoch_shuffle (one task over the whole corpus)."""
    key = md5_hash60(
        F.concat(F.lit(f"epoch:{epoch}:"), F.col("doc_id").cast("string"))
    )
    w = Window.orderBy("_key", "doc_id")
    return (
        docs.select("doc_id", key.alias("_key"))
        .withColumn("global_pos", F.row_number().over(w).cast("long") - 1)
        .select(
            "doc_id",
            (F.col("_key") % n_shards).alias("shard"),
            "global_pos",
        )
    )


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_matches_global_window_on_awkward_ids(spark):
    rows = []
    # sparse non-contiguous ids straddling several 64-buckets,
    # including exact bucket-boundary ids and an empty-ish doc
    for i, did in enumerate([0, 1, 63, 64, 65, 127, 128, 1000, 4096, 9999]):
        rows.append((did, " ".join(f"w{j}" for j in range((i * 37) % 90 + 1)), "en", "s"))
    docs = _docs(spark, rows)
    got = sorted(
        map(tuple, packing.concat_chunk_manifest(docs, seq_len=50).collect())
    )
    want = sorted(
        map(tuple, concat_chunk_manifest_global(docs, seq_len=50).collect())
    )
    assert got == want
    # manifest invariants: offsets are the prefix sums in doc_id order
    by_id = sorted(got)
    run = 0
    for doc_id, n_tok, start, first, last in by_id:
        assert start == run
        assert first == start // 50
        assert last == (start + n_tok - 1) // 50
        run += n_tok


def test_chunks_partition_the_token_stream(spark):
    docs = _docs(
        spark,
        [(i, " ".join(["t"] * 30), "en", "s") for i in range(40)],  # 1200 tokens
    )
    out = packing.concat_chunk_manifest(docs, seq_len=512).collect()
    total = sum(r["n_tok"] for r in out)
    assert total == 1200
    assert max(r["last_chunk"] for r in out) == (total - 1) // 512  # 2
    # every chunk index between 0 and max is touched by some doc
    touched = set()
    for r in out:
        touched.update(range(r["first_chunk"], r["last_chunk"] + 1))
    assert touched == set(range((total - 1) // 512 + 1))


def test_no_unpartitioned_window_over_corpus_rows(spark):
    docs = _docs(spark, [(i, "a b c", "en", "s") for i in range(10)])
    df = packing.concat_chunk_manifest(docs)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # every windowspecdefinition over doc_id must carry the bucket
    # partition column; the summary window is over _b, not doc_id
    bad = re.findall(r"windowspecdefinition\(doc_id#\d+L? ASC", opt)
    assert not bad, opt


def test_epoch_shuffle_matches_global_window(spark):
    # sparse ids straddling key-space buckets; small key_buckets so
    # several buckets are populated
    rows = [(did, "x", "en", "s") for did in [0, 1, 7, 63, 64, 900, 4096, 9999]]
    docs = _docs(spark, rows)
    for epoch in (1, 2):
        got = sorted(
            map(tuple, packing.epoch_shuffle(docs, epoch, key_buckets=8).collect())
        )
        want = sorted(map(tuple, epoch_shuffle_global(docs, epoch).collect()))
        assert got == want
        # global_pos is a permutation of 0..n-1
        assert sorted(t[2] for t in got) == list(range(len(rows)))


def test_epoch_shuffle_epochs_differ_and_reproduce(spark):
    docs = _docs(spark, [(i, "x", "en", "s") for i in range(64)])
    e1 = {r["doc_id"]: r["global_pos"] for r in packing.epoch_shuffle(docs, 1).collect()}
    e1b = {r["doc_id"]: r["global_pos"] for r in packing.epoch_shuffle(docs, 1).collect()}
    e2 = {r["doc_id"]: r["global_pos"] for r in packing.epoch_shuffle(docs, 2).collect()}
    assert e1 == e1b  # reproducible
    assert e1 != e2  # epochs reorder
    # shards roughly uniform: no shard owns more than half of 64 docs
    shards = [r["shard"] for r in packing.epoch_shuffle(docs, 1).collect()]
    from collections import Counter

    assert max(Counter(shards).values()) <= 32


def test_epoch_shuffle_no_unpartitioned_window_over_corpus_rows(spark):
    docs = _docs(spark, [(i, "x", "en", "s") for i in range(10)])
    df = packing.epoch_shuffle(docs)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # corpus-row windows must carry the _b partition column; the only
    # unpartitioned window runs over the ~key_buckets-row summary
    bad = re.findall(r"windowspecdefinition\(_key#\d+L? ASC", opt)
    assert not bad, opt


def test_epoch_pack_matches_shuffled_global_window(spark):
    # differential: epoch_pack_manifest == prefix sum over the
    # epoch_shuffle order computed naively
    docs = _docs(spark, [(i, " ".join(["t"] * (i % 7 + 1)), "en", "s") for i in range(50)])
    got = {r["doc_id"]: (r["start_off"], r["first_chunk"], r["last_chunk"])
           for r in packing.epoch_pack_manifest(docs, epoch=2, seq_len=16, key_buckets=8).collect()}
    order = sorted(
        epoch_shuffle_global(docs, 2).collect(), key=lambda r: r["global_pos"]
    )
    ntok = {r["doc_id"]: r["n_tok"] for r in packing.concat_chunk_manifest(docs).collect()}
    run = 0
    for r in order:
        n = ntok[r["doc_id"]]
        want = (run, run // 16, (run + n - 1) // 16)
        assert got[r["doc_id"]] == want, (r["doc_id"], got[r["doc_id"]], want)
        run += n


def test_chunk_documents_overlap_and_reassembly(spark):
    """Constructed cases: exact chunk counts, overlap = window−stride,
    truncation of the last window, and lossless reassembly (chunk 0 +
    each later chunk's tail past the overlap == the document)."""
    from piholelongtermstats_spark.operators.packing import chunk_documents

    W, S = 8, 6
    texts = {
        0: " ".join(f"t{i}" for i in range(5)),    # n=5  <= W  → 1 chunk
        1: " ".join(f"t{i}" for i in range(8)),    # n=8  == W  → 1 chunk
        2: " ".join(f"t{i}" for i in range(9)),    # n=9 → 2 chunks (last len 3)
        3: " ".join(f"t{i}" for i in range(21)),   # n=21 → 1+ceil(13/6)=4
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = chunk_documents(docs, window=W, stride=S).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {d: len(v) for d, v in by_doc.items()} == {0: 1, 1: 1, 2: 2, 3: 4}
    assert sorted(r.chunk_tokens for r in by_doc[2]) == [3, 8]
    # reassembly: tokens covered = stride per chunk + window tail
    import hashlib

    for d, txt in texts.items():
        toks = txt.split()
        rows = sorted(by_doc[d], key=lambda r: r.chunk_id)
        rebuilt = []
        for r in rows:
            start = r.chunk_id * S
            piece = toks[start : start + W]
            assert r.chunk_tokens == len(piece)
            expect = hashlib.md5(" ".join(piece).encode()).hexdigest()
            assert r.chunk_md5 == expect, (d, r.chunk_id)
            rebuilt.extend(piece if not rebuilt else piece[W - S :])
        assert rebuilt == toks, d
