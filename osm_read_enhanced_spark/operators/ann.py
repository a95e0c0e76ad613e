"""Approximate-nearest-neighbor search over embedding columns.

- ``ann_ivf_topk`` — the scale path: ``kmeans_fit`` centroids on a
  driver sample, ``ivf_assign`` puts every vector in its nearest list
  (broadcast centroid matrix, one matmul per Arrow batch), each query
  probes its top-nprobe lists through an equi-join on the list id,
  exact cosine refine + window top-k.
- ``ann_bruteforce_topk_quantized`` — cosine top-k over int8-style
  quantized vectors (``quantize_embeddings``), JVM-side integer dot
  products.
- ``ann_bruteforce_topk`` — exact cosine top-k: broadcast the (small)
  query set, JVM-side zip_with/aggregate dot products, window top-k.
  The oracle for the IVF and quantized recall tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norm_col(vec_col: str):
    return F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, vec_id, rank, cosine) exact top-k by cosine."""
    v = vectors.select(
        F.col(id_col), F.col(vec_col).alias("_v"), _norm_col(vec_col).alias("_nv")
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_q"), _norm_col(vec_col).alias("_nq")
    )
    cand = v.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col(query_id_col))
    dot = F.aggregate(
        F.zip_with("_v", "_q", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = cand.select(
        query_id_col,
        id_col,
        (F.floor(dot / (F.col("_nv") * F.col("_nq")) * 1e6 + 0.5) / 1e6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "list_id",
) -> DataFrame:
    """Assign each vector to its nearest (L2) centroid — the IVF coarse
    quantizer. ``centroids``: (k, dim) numpy array (broadcast)."""
    schema = T.StructType([*vectors.schema.fields, T.StructField(out_col, T.IntegerType(), False)])
    c = centroids.astype(np.float64)
    c_norm2 = (c * c).sum(axis=1)

    def assign(it):
        for pdf in it:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (M * M).sum(axis=1)[:, None] - 2 * (M @ c.T) + c_norm2[None, :]
            yield pdf.assign(**{out_col: d2.argmin(axis=1).astype(np.int32)})

    return vectors.mapInPandas(assign, schema)


def ivf_probe_lists(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query → its ``nprobe`` nearest centroid list ids, exploded
    to (query row, list_id) — the IVF probe set (broadcast centroid
    matrix, one matmul per Arrow batch)."""
    c = centroids.astype(np.float64)
    c_norm2 = (c * c).sum(axis=1)
    nprobe = min(nprobe, len(c))
    schema = T.StructType(
        [*queries.schema.fields, T.StructField("list_id", T.IntegerType(), False)]
    )

    def probe(it):
        for pdf in it:
            M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = (M * M).sum(axis=1)[:, None] - 2 * (M @ c.T) + c_norm2[None, :]
            lists = np.argsort(d2, axis=1)[:, :nprobe].astype(np.int32)
            out = pdf.loc[pdf.index.repeat(nprobe)].reset_index(drop=True)
            out["list_id"] = lists.ravel()
            yield out

    return queries.mapInPandas(probe, schema)


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """End-to-end IVF ANN: fit coarse centroids on a driver sample,
    assign every vector to its list (distributed matmul), probe each
    query's top-``nprobe`` lists via an equi-join on list_id, exact
    cosine refine + window top-k. The scan per query is bounded by the
    probed lists (~nprobe/n_lists of the table) instead of the full
    table — the standard IVF trade (recall grows with nprobe).
    """
    # deterministic training sample: limit() without an order is scan-
    # order-dependent; sorting by id pins the centroids across runs/plans
    cent = kmeans_fit(vectors.orderBy(id_col), k=n_lists, vec_col=vec_col, seed=seed)
    v = ivf_assign(vectors.select(id_col, vec_col), cent, id_col, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("_v"), _norm_col(vec_col).alias("_nv"),
        "list_id",
    )
    q = ivf_probe_lists(
        queries.select(query_id_col, vec_col), cent, nprobe, query_id_col, vec_col
    ).select(
        F.col(query_id_col), F.col(vec_col).alias("_q"), _norm_col(vec_col).alias("_nq"),
        "list_id",
    )
    cand = v.join(q, "list_id").filter(F.col(id_col) != F.col(query_id_col))
    dot = F.aggregate(
        F.zip_with("_v", "_q", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = cand.select(
        query_id_col, id_col, (F.floor(dot / (F.col("_nv") * F.col("_nq")) * 1e6 + 0.5) / 1e6).alias("cosine")
    ).dropDuplicates([query_id_col, id_col])
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine")
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    iters: int = 5,
    seed: int = 42,
    sample: int = 4096,
) -> np.ndarray:
    """Tiny Lloyd's k-means on a driver-side sample → IVF centroids.

    The training sample is small by design (centroid fitting is not the
    scale-out part); assignment (ivf_assign) is fully distributed."""
    pdf = vectors.select(vec_col).limit(sample).toPandas()
    M = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(seed)
    cent = M[rng.choice(len(M), size=min(k, len(M)), replace=False)]
    for _ in range(iters):
        d2 = (M * M).sum(1)[:, None] - 2 * (M @ cent.T) + (cent * cent).sum(1)[None, :]
        lab = d2.argmin(1)
        for j in range(len(cent)):
            m = lab == j
            if m.any():
                cent[j] = M[m].mean(0)
    return cent


def quantize_embeddings(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """→ (id_col, qvec: array<int> in [-127, 127], scale): symmetric
    per-vector int8-style quantization, q_i = floor(v_i/scale·127 + .5),
    scale = max|v_i| — the standard storage/IO reduction for 100-TB
    embedding tables (8× vs float64 on disk and over the shuffle wire).
    Pure Column math; the de-quantized value is q_i·scale/127. All-zero
    vectors quantize to all-zero (scale 0 guarded via try_divide).

    floor(x+0.5) rather than round(): identical IEEE ops in Spark and
    DuckDB, so the q58 oracle mirrors the quantizer bit-for-bit.
    """
    v = F.transform(vec_col, lambda x: x.cast("double"))
    scale = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.floor(F.try_divide(x, scale) * 127 + 0.5), F.lit(0)
        ).cast("int"),
    )
    return vectors.select(F.col(id_col), q.alias("qvec"), scale.alias("scale"))


def ann_bruteforce_topk_quantized(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """→ (query_id, vec_id, rank, cosine_q) top-k by the cosine of the
    QUANTIZED vectors (per-vector scales cancel in cosine, so only the
    int8 grids matter) — the memory-bound baseline for quantized ANN.
    Integer dot products keep the arithmetic exactly reproducible in
    the SQL oracle; recall vs the exact float path is pinned by test
    (≥0.9 @ k=5 on clustered synthetics, the standard int8 trade)."""
    qv = quantize_embeddings(vectors, id_col, vec_col)
    qq = quantize_embeddings(queries, query_id_col, vec_col).withColumnsRenamed(
        {"qvec": "_qq", "scale": "_sq"}
    )
    qnorm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    cand = (
        qv.crossJoin(F.broadcast(qq))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.aggregate(
                F.zip_with("qvec", "_qq", lambda x, y: x.cast("double") * y.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("_dot"),
            qnorm(F.col("qvec")).alias("_na"),
            qnorm(F.col("_qq")).alias("_nb"),
        )
    )
    scored = cand.select(
        query_id_col,
        id_col,
        (
            F.floor(F.try_divide(F.col("_dot"), F.col("_na") * F.col("_nb")) * 10000 + 0.5)
            / 10000
        ).alias("cosine_q"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_q").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "rank", "cosine_q")
    )

