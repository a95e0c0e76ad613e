"""ANN (brute-force / IVF / int8-quantized) and dedup operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_read_enhanced_spark.operators.ann import (
    ann_bruteforce_topk,
    ivf_assign,
    kmeans_fit,
)
from osm_read_enhanced_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

rng = np.random.default_rng(42)


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 well-separated clusters in 16d
    centers = rng.normal(size=(3, 16)) * 5
    rows = []
    for i in range(90):
        c = i % 3
        rows.append((i, (centers[c] + rng.normal(0, 0.3, 16)).astype(float).tolist(), c))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_bruteforce_topk_exact(spark, vectors):
    q = vectors.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ann_bruteforce_topk(vectors, q, k=4).collect()
    assert len(out) == 20
    # neighbors of a query share its cluster (clusters are separated)
    labels = {r.vec_id: r.label for r in vectors.collect()}
    for r in out:
        assert labels[r.vec_id] == labels[r.query_id % 90]
    # ranks are 1..4 per query, cosine descending
    by_q = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.cosine)
    assert all(cs == sorted(cs, reverse=True) for cs in by_q.values())


def test_ivf_assign_clusters(spark, vectors):
    cent = kmeans_fit(vectors, k=3, iters=8)
    assert cent.shape == (3, 16)
    assigned = ivf_assign(vectors, cent).collect()
    # cluster purity: each true label maps to exactly one list
    mapping = {}
    for r in assigned:
        mapping.setdefault(r.label, set()).add(r.list_id)
    assert all(len(v) == 1 for v in mapping.values())
    assert len({next(iter(v)) for v in mapping.values()}) == 3


def test_dedup_chain_end_to_end(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data between stages using hash partitioning always"),
            (2, "spark shuffles data between stages using hash partitioning always"),
            (3, "spark shuffles data between stages using range partitioning always"),
            (4, "ducks swim in the pond every morning before sunrise happily today"),
        ],
        "doc_id long, text string",
    )
    assert {r.n_dups for r in exact_dedup(docs).collect()} == {2, 1}
    mh = minhash_lsh_pairs(docs, threshold=0.4, shingle_k=3).collect()
    assert (1, 2) in {(r.id_a, r.id_b) for r in mh}
    sh = simhash_pairs(docs, max_hamming=8).collect()
    pairs = {(r.id_a, r.id_b) for r in sh}
    assert (1, 2) in pairs
    cand = spark.createDataFrame([(1, 3), (1, 4)], "id_a long, id_b long")
    jac = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_pairs(docs, cand, threshold=0.0).collect()}
    assert jac[(1, 3)] > 0.7 > jac[(1, 4)]


def test_connected_components_chain_and_islands(spark):
    from osm_read_enhanced_spark.operators.dedup import (
        connected_components,
        dedup_keep_list,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    comp = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]],
                                 "doc_id long")
    keep = {r.doc_id: r.keep for r in dedup_keep_list(docs, pairs).collect()}
    # canonical member of each cluster + the unpaired doc survive
    assert keep == {1: True, 2: False, 3: False, 4: False,
                    10: True, 11: False, 20: True, 21: False, 99: True}


def test_ivf_topk_exact_when_probing_all_lists(spark, vectors):
    """nprobe == n_lists probes every list → IVF must equal brute force
    exactly; at nprobe=4/16 it is approximate with reasonable recall."""
    from osm_read_enhanced_spark.operators.ann import (
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    qs = vectors.filter("vec_id < 6").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann_bruteforce_topk(vectors, qs, k=5).orderBy("query_id", "rank").collect()
    full = ann_ivf_topk(vectors, qs, k=5, n_lists=8, nprobe=8).orderBy(
        "query_id", "rank"
    ).collect()
    assert [(r.query_id, r.vec_id, r.rank) for r in full] == [
        (r.query_id, r.vec_id, r.rank) for r in exact
    ]
    approx = ann_ivf_topk(vectors, qs, k=5, n_lists=8, nprobe=3).collect()
    got = {(r.query_id, r.vec_id) for r in approx}
    want = {(r.query_id, r.vec_id) for r in exact}
    recall = len(got & want) / len(want)
    assert recall >= 0.4, recall


def test_quantized_ann_recall_vs_exact(spark):
    """int8 quantization (round 4): recall@5 vs the exact float path
    must stay high on clustered synthetics, and the quantizer must be
    an exact [-127,127] integer grid with correct dequantization."""
    import numpy as np
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.operators.ann import (
        ann_bruteforce_topk,
        ann_bruteforce_topk_quantized,
        quantize_embeddings,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 24))
    M = np.vstack([c + rng.normal(scale=0.25, size=(25, 24)) for c in centers])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in M[i]]) for i in range(len(M))],
        "vec_id long, embedding array<double>",
    )
    qs = df.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in ann_bruteforce_topk(df, qs, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    quant = {}
    for r in ann_bruteforce_topk_quantized(df, qs, k=5).collect():
        quant.setdefault(r.query_id, set()).add(r.vec_id)
    assert exact.keys() == quant.keys()
    recalls = [len(exact[q] & quant[q]) / 5 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.9, recalls

    # quantizer grid + dequantization error bound: |v_i - q_i*s/127| <= s/254
    rows = quantize_embeddings(df.limit(10)).collect()
    orig = {int(r.vec_id): M[int(r.vec_id)] for r in rows}
    for r in rows:
        q = np.array(r.qvec)
        assert q.dtype.kind == "i" and np.abs(q).max() <= 127
        v = orig[int(r.vec_id)]
        assert abs(r.scale - np.abs(v).max()) < 1e-12
        deq = q * r.scale / 127.0
        assert np.abs(deq - v).max() <= r.scale / 254.0 + 1e-12


def test_prefix_filter_jaccard_equals_bruteforce(spark):
    """Bayardo prefix filtering (round 4) is EXACT: pairs must equal a
    clean-room python brute force over distinct-token Jaccard, on a
    corpus with low global overlap (so prefixes genuinely prune)."""
    import itertools
    import random

    from osm_read_enhanced_spark.operators.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(31)
    vocab = [f"tok{i}" for i in range(400)]
    docs = []
    for i in range(60):
        docs.append((i, " ".join(rng.sample(vocab, 12))))
    for i in range(60, 80):  # planted near-dups of earlier docs
        base = docs[i - 60][1].split()
        base[rng.randrange(len(base))] = rng.choice(vocab)
        docs.append((i, " ".join(base)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    tau = 0.7
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(df, threshold=tau).collect()
    }
    sets = {i: set(t.lower().split()) for i, t in docs}
    expected = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 10 >= union * 7:  # tau = 7/10, exact integers
            expected[(a, b)] = int(inter / union * 10000 + 0.5) / 10000
    assert got == expected and len(expected) >= 15

