"""Round-6 optimization regression tests.

Each test pins an internals change from OPTIMIZATION_r06.md:
- pairs_within_hamming: the distinct-hash collapse + first-matching-
  band emission must return exactly the brute-force pair set, with
  EVERY pair emitted exactly once (the r5 shape relied on a
  dropDuplicates shuffle that is now gone), on duplicate-heavy input
  and at the radius edges (0 = one 64-bit band; wide = 5-bit bands).
- _bucket_group_scan: the preallocated-buffer rewrite keeps the
  in-loop sliding-recency semantics of max_state (a doc later in the
  batch probes only the most recent N entries).
- widen: fires only under the partition AND byte gates; streaming
  inputs pass through untouched.
- get_spark: the default driver heap fits the host's physical RAM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _brute_pairs(spark, sh, r):
    return set(
        map(
            tuple,
            sh.alias("a")
            .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.bit_count(
                    F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= r)
            .collect(),
        )
    )


@pytest.mark.parametrize("radius", [0, 1, 10])
def test_pairs_within_hamming_duplicate_heavy_emit_once(spark, radius):
    """Duplicate-heavy corpus (every text 4x): result == brute force AND
    no pair is emitted twice (the r5 dropDuplicates is gone — the
    first-matching-band predicate must be airtight)."""
    from osm_read_enhanced_spark.operators.dedup import simhash_df, pairs_within_hamming

    texts = [
        f"the quick brown fox number {i} jumps over the lazy dog wearing hat {i % 7}"
        for i in range(40)
    ]
    rows = [(j * 40 + i, texts[i]) for j in range(4) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash_df(docs).cache()
    got_rows = [tuple(r) for r in pairs_within_hamming(sh, radius).collect()]
    assert len(got_rows) == len(set(got_rows)), "pair emitted more than once"
    assert set(got_rows) == _brute_pairs(spark, sh, radius)
    sh.unpersist()


def test_pairs_within_hamming_radius_edges(spark):
    """Radius 0 (single 64-bit band — the long-mask edge) and a wide
    radius where bands shrink to 3 bits still match brute force."""
    from osm_read_enhanced_spark.operators.dedup import simhash_df, pairs_within_hamming

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i} delta {i % 3} epsilon") for i in range(30)],
        "doc_id long, text string",
    )
    sh = simhash_df(docs).cache()
    for r in (0, 20):
        got = set(map(tuple, pairs_within_hamming(sh, r).collect()))
        assert got == _brute_pairs(spark, sh, r), r
    sh.unpersist()


def test_bucket_group_scan_sliding_window_semantics():
    """max_state evicts INSIDE the loop: a doc arriving after the
    window rolled past an early near-duplicate must NOT match it."""
    from osm_read_enhanced_spark.streaming.text import _bucket_group_scan

    rng = np.random.default_rng(3)
    n_hashes = 8
    base = rng.integers(0, 2**31 - 1, n_hashes).astype("int64")
    filler = [
        rng.integers(0, 2**31 - 1, n_hashes).astype("int64").tolist()
        for _ in range(4)
    ]
    # doc 0 == doc 99's signature; 4 fillers in between; max_state=3
    # evicts doc 0 from the window before doc 99 arrives
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 99],
            "band": 0,
            "sig": [base.tolist()] + filler + [base.tolist()],
        }
    )
    out = _bucket_group_scan(pdf, [], [], n_hashes, 0.99, max_state=3)
    row99 = out[out["doc_id"] == 99].iloc[0]
    assert pd.isna(row99["matched_id"]), "evicted doc must not match"
    # without the cap the identical signature matches doc 0
    out2 = _bucket_group_scan(pdf, [], [], n_hashes, 0.99, max_state=None)
    assert int(out2[out2["doc_id"] == 99].iloc[0]["matched_id"]) == 0
    # and the returned state is exactly the last max_state entries
    ids, sigs = [], []
    _bucket_group_scan(pdf, ids, sigs, n_hashes, 0.99, max_state=3)
    assert ids == [3, 4, 99] and len(sigs) == 3 * n_hashes


def test_widen_gates(spark, tmp_path):
    from osm_read_enhanced_spark.session import widen

    p = str(tmp_path / "t.parquet")
    spark.range(1000).select(F.col("id").alias("k")).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() < 4
    # byte gate rejects tiny input
    assert widen(df, by="k", min_bytes=1 << 30).rdd.getNumPartitions() == \
        df.rdd.getNumPartitions()
    # byte gate passes -> repartitioned to the session parallelism
    wide = widen(df, by="k", min_bytes=1)
    assert wide.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert wide.count() == 1000
    # streaming inputs pass through untouched
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    assert widen(sdf, min_bytes=0) is sdf


def test_spark_fixture_driver_heap_fits_host(spark):
    """The session's driver heap must not exceed the host's physical
    RAM (the default derives it as at most half of RAM, capped at 24g)."""
    import os

    mem = spark.sparkContext.getConf().get("spark.driver.memory").lower().removesuffix("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    n = int(mem[:-1]) * units[mem[-1]] if mem[-1] in units else int(mem) << 20
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert n <= phys, (mem, phys)
