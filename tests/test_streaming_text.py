"""Streaming MinHash text dedup (round 5): stream ≡ best earlier match
over the MinHash pair join, consistency with incremental_dedup's
within-batch rule, and bounded per-bucket state eviction."""

import os
import shutil
import time

from osm_read_enhanced_spark.operators.dedup import best_match, minhash_lsh_pairs
from osm_read_enhanced_spark.streaming.text import text_neardup_stream

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "completely unrelated text about spark shuffle partitions and joins"),
    (3, "the quick brown fox jumps over the lazy dog again and again today"),
    (4, "a third document with its own distinctive vocabulary and phrasing"),
    (5, "completely unrelated text about spark shuffle partitions and joins ok"),
    (6, "fresh content that matches nothing else in the little corpus here"),
    (7, "the quick brown fox jumps over the lazy dog again and again now"),
    (8, "a third document with its own distinctive vocabulary and phrasing"),
]
SCHEMA = "doc_id long, text string"


def _stream_flags(spark, tmp_path, name, chunks, **kw):
    """Run ``text_neardup_stream`` with one micro-batch per chunk →
    {doc_id: (is_dup, dup_of)} from best_match over its band rows."""
    d = tmp_path / name
    d.mkdir()
    now = time.time()
    for i, chunk in enumerate(chunks):
        tmp = tmp_path / f"{name}_w{i}"
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.parquet(str(tmp))
        for f in tmp.glob("*.parquet"):
            dest = d / f"batch-{i}.parquet"
            shutil.copy(f, dest)
            os.utime(dest, (now - 100 + i * 30, now - 100 + i * 30))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        text_neardup_stream(stream, threshold=0.5, **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    flags = best_match(
        spark.sql(f"SELECT * FROM {name}"), "doc_id", "matched_id", "est", True
    )
    return {r.doc_id: (r.is_dup, r.dup_of) for r in flags.collect()}


def _pair_flags(spark, rows):
    """Best earlier match over minhash_lsh_pairs (the q69 rule) →
    {doc_id: (is_dup, dup_of)}: the batch JVM answer, computed with no
    code from the stream's per-bucket scan."""
    docs = spark.createDataFrame(rows, SCHEMA)
    pairs = minhash_lsh_pairs(docs, threshold=0.5).selectExpr(
        "id_b AS doc_id", "id_a AS matched_id", "est_jaccard AS est"
    )
    flags = best_match(
        docs.select("doc_id").join(pairs, "doc_id", "left"),
        "doc_id", "matched_id", "est", True,
    )
    return {r.doc_id: (r.is_dup, r.dup_of) for r in flags.collect()}


def test_single_microbatch_stream_matches_incremental_dedup_rule(spark, tmp_path):
    from osm_read_enhanced_spark.operators.dedup import incremental_dedup

    docs = spark.createDataFrame(DOCS, SCHEMA)
    got = {
        d: dup for d, (dup, _) in _stream_flags(spark, tmp_path, "txt_one", [DOCS]).items()
    }
    inc = {
        r.doc_id: r.dup_in_batch
        for r in incremental_dedup(docs, None, threshold=0.5).collect()
    }
    assert got == inc
    assert got[3] and got[8]          # exact copies of earlier docs
    assert not got[1] and not got[2]  # first arrivals


def test_stream_equals_batch_across_microbatches(spark, tmp_path):
    sgot = _stream_flags(
        spark, tmp_path, "txt_neardup_bands", [DOCS[:3], DOCS[3:6], DOCS[6:]]
    )
    assert sgot == _pair_flags(spark, DOCS)
    assert sgot[3] == (True, 1)


def test_bounded_state_evicts_oldest(spark, tmp_path):
    """max_state_per_bucket=1: with identical docs A→B→C in separate
    micro-batches, C must match B (A evicted); unbounded mode would
    match A (ties broken toward the smallest id)."""
    same = "one identical sentence repeated across every single micro batch here"
    rows = [(1, same), (2, same), (3, same)]
    got = _stream_flags(
        spark, tmp_path, "txt_neardup_bounded", [[r] for r in rows],
        max_state_per_bucket=1,
    )
    assert got[1] == (False, None)
    assert got[2] == (True, 1)
    assert got[3] == (True, 2)  # A evicted — proof the bound is enforced
    assert _pair_flags(spark, rows)[3] == (True, 1)  # the unbounded answer


def test_bucket_fold_superset_and_stream_batch_parity(spark, tmp_path):
    """bucket_bits folds buckets into a bounded key space; flags must be
    a recall-superset of the exact flags, and a stream split over two
    micro-batches must equal a one-micro-batch run under the same
    fold."""
    exact = {d: dup for d, (dup, _) in _pair_flags(spark, DOCS).items()}
    folded = {
        d: dup
        for d, (dup, _) in _stream_flags(
            spark, tmp_path, "txt_folded_one", [DOCS], bucket_bits=6
        ).items()
    }
    assert set(folded) == set(exact)
    for d, dup in exact.items():
        if dup:
            assert folded[d], f"fold lost a confirmed dup for doc {d}"

    sflags = {
        d: dup
        for d, (dup, _) in _stream_flags(
            spark, tmp_path, "txt_neardup_folded", [DOCS[:4], DOCS[4:]], bucket_bits=6
        ).items()
    }
    assert sflags == folded
