"""kNN over geo points (SURVEY.md §2.5 J5, §2.7 W3).

``knn_join_adaptive``: kRing expansion reduces the theta-join to an
equi-join — each left point probes the cells of its k-ring; right
points are keyed by their cell; exact haversine refine + row_number
window top-k. The ring doubles per round until each point's kth
neighbor lies provably inside the probed cells, so the result is exact
on any density.

``knn_topk_broadcast``: exact kNN with zero shuffle when the right side
fits one in-memory array.

``knn_bruteforce``: exact O(n·m) broadcast cross join — the adaptive
join's fallback for points no ring round resolves, and the oracle at
test scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hexgrid
from ..functions.geo import haversine_col


def _with_cell(df: DataFrame, res: int, lat_col: str, lon_col: str, out: str) -> DataFrame:
    from ..session import python_parallelism

    df = df.repartition(python_parallelism(df.sparkSession))
    schema = T.StructType([*df.schema.fields, T.StructField(out, T.LongType(), False)])

    def add(it):
        for pdf in it:
            yield pdf.assign(
                **{
                    out: hexgrid.hex_cell(
                        pdf[lat_col].to_numpy(dtype=np.float64),
                        pdf[lon_col].to_numpy(dtype=np.float64),
                        res,
                    )
                }
            )

    return df.mapInPandas(add, schema)


def _with_kring(df: DataFrame, res: int, ring: int, lat_col: str, lon_col: str) -> DataFrame:
    from ..session import python_parallelism

    df = df.repartition(python_parallelism(df.sparkSession))
    schema = T.StructType(
        [*df.schema.fields, T.StructField("probe_cells", T.ArrayType(T.LongType()), False)]
    )

    def add(it):
        for pdf in it:
            cells = hexgrid.hex_cell(
                pdf[lat_col].to_numpy(dtype=np.float64),
                pdf[lon_col].to_numpy(dtype=np.float64),
                res,
            )
            rings = hexgrid.kring_cells(cells, k=ring)
            yield pdf.assign(probe_cells=[r.tolist() for r in rings])

    return df.mapInPandas(add, schema)


def knn_topk_broadcast(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "point_id",
    right_id: str = "neighbor_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    exclude_self: bool = True,
    round_dist: int | None = None,
) -> DataFrame:
    """Exact kNN with ZERO shuffle for a dimension-scale right side.

    The right side is folded into a single array row (collect_list of
    structs) and broadcast; every left row ranks its neighbors inside a
    JVM array expression (transform → array_sort → slice → posexplode).
    Output is exactly |left|×k rows — the |left|×|right| candidate set
    never materializes in a shuffle, unlike cross-join + window top-k
    which shuffles every scored pair into the window exchange. The plan
    is scan → 1-row broadcast join → project: linear in |left| at any
    scale. Use when |right| fits one in-memory array (≲ a few hundred
    thousand rows); otherwise use ``knn_join_adaptive`` (kRing
    equi-join).

    ``round_dist``: optional decimals to round the distance to BEFORE
    ranking (deterministic tie grouping, matches SQL oracles that rank
    by round(dist, d), id).
    """
    r_arr = right.select(
        F.struct(
            F.col(lat_col).alias("_rlat"),
            F.col(lon_col).alias("_rlon"),
            F.col(right_id).alias("_rid"),
        ).alias("_s")
    ).agg(F.collect_list("_s").alias("_nbrs"))

    def score(s):
        d = haversine_col(F.col(lat_col), F.col(lon_col), s["_rlat"], s["_rlon"])
        if round_dist is not None:
            d = F.round(d, round_dist)
        return F.struct(d.alias("dist_m"), s["_rid"].alias(right_id))

    arr = F.transform(F.col("_nbrs"), score)
    if exclude_self:
        arr = F.filter(arr, lambda s: s[right_id] != F.col(left_id))
    # struct sort = (dist_m, right_id) ascending — the window order
    topk = F.slice(F.array_sort(arr), 1, k)
    return (
        left.crossJoin(F.broadcast(r_arr))
        .select(F.col(left_id), F.posexplode(topk).alias("pos", "_t"))
        .select(
            left_id,
            F.col(f"_t.{right_id}").alias(right_id),
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("_t.dist_m").alias("dist_m"),
        )
    )


def _covered_meters(ring: int, res: int, lat_col):
    """Distance (meters) provably covered by a k-ring probe at ``res``
    around a point at latitude ``lat_col`` — any true neighbor within
    this distance MUST fall in a probed cell, so a kth-nearest candidate
    inside it is exact.

    Derivation: the hex lattice lives in (lon°, lat°) plane with edge
    e = edge_deg(res); the k-ring hexagon's inradius is 1.5·e·ring, and
    a point-to-cell-center slop of ≤ 2e leaves a fully-covered DEGREE
    disc of radius e·(1.5·ring − 2). Meters→degrees worst case is the
    longitude axis at the highest latitude reachable inside the disc
    (cos shrink), with an extra 1.5 slack for planar-vs-haversine
    distortion. Underestimating coverage only costs extra rounds — never
    correctness."""
    e = hexgrid.edge_deg(res)
    deg_cov = max(0.0, (1.5 * ring - 2.0) * e)
    phi = F.least(F.lit(89.0), F.abs(lat_col) + F.lit(deg_cov))
    m_per_deg = F.least(F.lit(110574.0), F.lit(111320.0) * F.cos(F.radians(phi)))
    return F.lit(deg_cov) * m_per_deg / F.lit(1.5)


def auto_resolution(
    right: DataFrame, k: int, lat_col: str = "lat", lon_col: str = "lon"
) -> int:
    """Starting grid resolution derived from right-side density — ONE
    cheap aggregate (count + bbox), no hand tuning (VERDICT r2 #5).

    Picks res so a ring-4 disk (61 cells) is expected to hold ≳ 2k
    right points under uniform density over the right side's bbox:
    λ(res) = n·cell_area(res)/bbox_area and target λ ≈ k/16. Dense
    clusters get fine grids (bounded per-cell fan-in); globally sparse
    sets get coarse grids (few doubling rounds, bounded probe fan-out).
    Clamped to [0, 9]."""
    import math

    agg = right.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(lat_col).alias("la0"),
        F.max(lat_col).alias("la1"),
        F.min(lon_col).alias("lo0"),
        F.max(lon_col).alias("lo1"),
    ).collect()[0]
    n = max(int(agg["n"]), 1)
    area = max((agg["la1"] - agg["la0"]) * (agg["lo1"] - agg["lo0"]), 1e-6)
    target_lambda = max(k, 1) / 16.0
    cell_area = target_lambda * area / n  # deg², planar blocking lattice
    hex_area_coeff = 3.0 * math.sqrt(3.0) / 2.0
    edge_needed = math.sqrt(cell_area / hex_area_coeff)
    edge0 = hexgrid.edge_deg(0)
    res = round(2.0 * math.log(edge0 / edge_needed) / math.log(7.0))
    return int(min(max(res, 0), 9))


def knn_join_adaptive(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    res: int | None = None,
    left_id: str = "point_id",
    right_id: str = "neighbor_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    exclude_self: bool = True,
    max_rounds: int = 6,
) -> DataFrame:
    """EXACT kNN via iterative ring expansion — no coverage contract.

    The caller picks no ring radius (a fixed ring that misses the true
    kNN radius would fail silently in sparse regions): each round
    probes a doubling ring; a left point RESOLVES
    when it has ≥ k candidates whose kth distance is within the ring's
    provably-covered radius (_covered_meters). Unresolved points carry
    to the next round; anything still unresolved after ``max_rounds``
    (e.g. near-polar points where the planar coverage bound collapses)
    falls back to the exact broadcast scan — so the result equals
    brute force on ANY input, while dense regions resolve in round 1
    with candidate sets bounded by their local ring.

    Driver loop is O(max_rounds) Spark jobs over a shrinking unresolved
    subset — the standard iterative-refinement shape (like AQE retries),
    not a per-row loop.

    ``res=None`` (default) derives the starting resolution from the
    right side's measured density (``auto_resolution`` — one cheap
    aggregate), so sparse-globe and dense-cluster inputs pick different
    grids without per-dataset tuning.
    """
    if res is None:
        res = auto_resolution(right, k, lat_col, lon_col)
    rt = _with_cell(
        right.select(F.col(right_id), F.col(lat_col), F.col(lon_col)),
        res, lat_col, lon_col, "cell",
    ).select(
        right_id, F.col(lat_col).alias("_rlat"), F.col(lon_col).alias("_rlon"), "cell"
    ).cache()
    unresolved = left.select(F.col(left_id), F.col(lat_col), F.col(lon_col))
    chunks = []
    # start at ring 2: _covered_meters is exactly 0 at ring 1 (the 2e
    # point-to-center slop eats the whole inradius), so a ring-1 round
    # could never resolve anything — it would be a full wasted pass
    ring = 2
    for _ in range(max_rounds):
        lt = _with_kring(unresolved, res, ring, lat_col, lon_col).select(
            left_id,
            F.col(lat_col).alias("_llat"),
            F.col(lon_col).alias("_llon"),
            F.explode("probe_cells").alias("cell"),
        )
        cand = lt.join(rt, "cell", "inner")
        if exclude_self:
            cand = cand.filter(F.col(left_id) != F.col(right_id))
        scored = cand.select(
            left_id, right_id, "_llat",
            haversine_col(
                F.col("_llat"), F.col("_llon"), F.col("_rlat"), F.col("_rlon")
            ).alias("dist_m"),
        ).dropDuplicates([left_id, right_id])
        w = Window.partitionBy(left_id).orderBy(
            F.col("dist_m").asc(), F.col(right_id).asc()
        )
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("_n", F.count("*").over(Window.partitionBy(left_id)))
            .withColumn("_kth", F.max("dist_m").over(Window.partitionBy(left_id)))
        )
        resolved = topk.filter(
            (F.col("_n") >= k) & (F.col("_kth") <= _covered_meters(ring, res, F.col("_llat")))
        ).select(left_id, right_id, "rank", "dist_m")
        chunks.append(resolved.cache())
        done_ids = resolved.select(left_id).distinct()
        unresolved = unresolved.join(done_ids, left_id, "left_anti")
        if unresolved.isEmpty():
            unresolved = None
            break
        ring *= 2
    if unresolved is not None and not unresolved.isEmpty():
        chunks.append(
            knn_bruteforce(
                unresolved, right, k,
                left_id=left_id, right_id=right_id,
                lat_col=lat_col, lon_col=lon_col, exclude_self=exclude_self,
            )
        )
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out


def knn_bruteforce(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "point_id",
    right_id: str = "neighbor_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact kNN via broadcast cross join — the oracle path and the right
    plan when the right side is small enough to broadcast."""
    lt = left.select(
        F.col(left_id), F.col(lat_col).alias("_llat"), F.col(lon_col).alias("_llon")
    )
    rt = right.select(
        F.col(right_id), F.col(lat_col).alias("_rlat"), F.col(lon_col).alias("_rlon")
    )
    cand = lt.crossJoin(F.broadcast(rt))
    if exclude_self:
        cand = cand.filter(F.col(left_id) != F.col(right_id))
    scored = cand.select(
        left_id,
        right_id,
        haversine_col(F.col("_llat"), F.col("_llon"), F.col("_rlat"), F.col("_rlon")).alias(
            "dist_m"
        ),
    )
    w = Window.partitionBy(left_id).orderBy(F.col("dist_m").asc(), F.col(right_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(left_id, right_id, "rank", "dist_m")
    )
