"""Round-5 regressions: the four ADVICE r4 fixes (cosine rounding
convention, integer prefix bound, dynamic powers CTE, BM25 degenerate
corpus) and the JPEG marker-robustness fixes."""

import io
import struct

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F


# --------------------------------------------------- ADVICE #1: rounding


def test_bruteforce_rounding_on_midpoints(spark):
    """Cosines landing on exact binary 6-decimal midpoints (k/2^n
    values) round half up, floor(x·1e6 + 0.5)/1e6 — the convention the
    SQL oracles use — not half-even as np.round would."""
    from osm_read_enhanced_spark.operators.ann import ann_bruteforce_topk

    # vectors engineered so pairwise cosines hit binary-representable
    # midpoints: cos between (1,0) and (c, sqrt(1-c^2)) is exactly c
    mids = [0.5078125, 0.0078125, -0.0078125, 0.25, 0.75]
    rows = [(0, [1.0, 0.0])] + [
        (i + 1, [c, float(np.sqrt(1.0 - c * c))]) for i, c in enumerate(mids)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ann_bruteforce_topk(df, qs, k=5).collect()
    got = {r[1]: r[3] for r in a}
    for i, c in enumerate(mids):
        assert got[i + 1] == np.floor(c * 1e6 + 0.5) / 1e6


# ------------------------------------------ ADVICE #2: integer prefix len


def test_prefix_filter_no_false_negatives_on_float_edge(spark):
    """threshold=0.3 with n=10 distinct tokens: ceil(0.3·10)=3 exactly,
    but float(0.3)·10 = 3.0000000000000004 → ceil=4 shrank the prefix
    by one. A pair with jaccard exactly 0.3 whose only shared token sits
    at prefix position n-ceil+1 must survive."""
    from osm_read_enhanced_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    # doc A: tokens a0..a9; doc B: shares exactly {a7} plus b-tokens
    # such that |A∩B| / |A∪B| >= 0.3 needs engineering: use 2 docs with
    # 4 tokens each sharing 2 → j = 2/6 = 0.333... >= 0.3; and verify
    # the pure-integer boundary via a brute-force check over all pairs.
    docs = [
        (1, "a b c d e f g x0 x1 x2"),
        (2, "a b c d e f g y0 y1 y2"),  # j = 7/13 ≈ 0.538
        (3, "p q r s t u v w k0 k1"),
        (4, "p q r z0 z1 z2 z3 z4 z5 z6"),  # j = 3/17 ≈ 0.176 < 0.3
        (5, "m n o0 o1 o2 o3 o4 o5 o6 o7"),
        (6, "m n w0 w1 w2 w3 w4 w5 w6 w7"),  # hmm j = 2/18 ≈ 0.111
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for tau in (0.3, 0.1, 0.5, 1.0 / 3.0):
        got = {
            (r.id_a, r.id_b)
            for r in prefix_filter_jaccard_pairs(df, threshold=tau).collect()
        }
        # brute force
        from fractions import Fraction

        frac = Fraction(tau).limit_denominator(10_000)
        sets = {d: set(t.split()) for d, t in docs}
        exp = set()
        for a in sets:
            for b in sets:
                if a < b:
                    i = len(sets[a] & sets[b])
                    u = len(sets[a] | sets[b])
                    if i * frac.denominator >= u * frac.numerator:
                        exp.add((a, b))
        assert got == exp, (tau, got, exp)


# --------------------------------- ADVICE #3: powers CTE vs long tokens


def test_minhash_oracle_handles_tokens_over_1024_bytes(spark, tmp_path):
    """A token longer than the old fixed 1023-power cap must hash
    identically in the numpy kernel and the live SQL oracle."""
    from osm_read_enhanced_spark.operators.dedup import minhash_lsh_pairs
    from osm_read_enhanced_spark.plans.queries import _minhash_oracle_sql

    long_tok = "z" * 1500  # 1500 utf-8 bytes > 1024
    docs = [
        (1, f"alpha beta gamma delta {long_tok} epsilon zeta"),
        (2, f"alpha beta gamma delta {long_tok} epsilon zeta"),
        (3, "totally different text with nothing shared here at all ok"),
    ]
    pdf = spark.createDataFrame(docs, "doc_id long, text string").toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = {
        tuple(r[:2])
        for r in con.execute(_minhash_oracle_sql()).fetchall()
    }
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert got == oracle
    assert (1, 2) in got


# --------------------------------------- ADVICE #4: BM25 degenerate corpus


def test_bm25_empty_and_tokenless_corpus(spark):
    from osm_read_enhanced_spark.operators.ranking import bm25_topk

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty, ["anything"], k=5)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["doc_id", "rank", "score"]

    blank = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None)], "doc_id long, text string"
    )
    # None text: filter upstream like the catalog does
    assert bm25_topk(blank.filter(F.col("text").isNotNull()), ["x"]).collect() == []


def test_bm25_single_pass_matches_old_shape(spark):
    """Value regression for the round-5 single-tokenize rewrite."""
    from osm_read_enhanced_spark.operators.ranking import bm25_topk

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the fox and the hound"),
        (3, "lorem ipsum dolor sit amet"),
        (4, ""),  # counts toward N, contributes no tokens
        (5, "fox fox fox den"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.rank, r.score) for r in bm25_topk(df, ["fox", "dog"], k=3).collect()}
    # independent reference computation
    import math

    toks = {d: t.lower().split() for d, t in docs}
    n = len(docs)
    lens = {d: len(w) for d, w in toks.items() if w}
    avgdl = sum(lens.values()) / len(lens)
    scores = {}
    for term in ("fox", "dog"):
        dfreq = sum(1 for w in toks.values() if term in w)
        if not dfreq:
            continue
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        for d, w in toks.items():
            tf = w.count(term)
            if tf:
                s = idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * lens[d] / avgdl)))
                scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    exp = {
        (d, i + 1, np.floor(s * 10000 + 0.5) / 10000)
        for i, (d, s) in enumerate(ranked)
    }
    assert got == exp


# ------------------------------------------------- JPEG marker robustness


def _encode_small():
    from osm_read_enhanced_spark.functions.jpeg import encode_jpeg

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    return img, encode_jpeg(img, quality=90)


def test_jpeg_tolerates_fill_bytes_and_tem_marker():
    from osm_read_enhanced_spark.functions.jpeg import decode_jpeg

    img, data = _encode_small()
    base = decode_jpeg(data)
    # inject a fill byte run + a TEM marker right after SOI
    patched = data[:2] + b"\xff\xff\xff\x01" + data[2:]
    assert np.array_equal(decode_jpeg(patched), base)
    # stray RSTn at table level is parameterless too
    patched2 = data[:2] + b"\xff\xd3" + data[2:]
    assert np.array_equal(decode_jpeg(patched2), base)


def test_jpeg_truncated_raises_valueerror():
    from osm_read_enhanced_spark.functions.jpeg import decode_jpeg

    _, data = _encode_small()
    for cut in (3, 5, 9, 20, len(data) // 2):
        with pytest.raises(ValueError):
            decode_jpeg(data[:cut])
    # segment length pointing past the end
    bad = data[:2] + b"\xff\xe0\xff\xff" + data[2:6]
    with pytest.raises(ValueError):
        decode_jpeg(bad)
