"""The three benchmark workloads.

Each workload owns its seeded inputs (built by ``prepare`` before any
timer starts), a warm-up pass over a tiny fixed input that goes through
every layer the measured job uses, the measured job itself, and the
check of the job's output against the truth from ``perfbench.inputs``.

- ``decode``: full single-pass ``read_pbf_union`` over a multi-file
  planet-shaped PBF, counted by kind. Only ``sources.pbf`` works.
- ``pip_tiles``: JVM-generated points, z12 tile columns, broadcast
  R-tree point-in-polygon against a few thousand seeded polygons,
  rollup by (polygon, x, y). Many points, few polygons; no decode.
- ``osm_layers``: the north-star chain over a generated OSM extract:
  persisted node/way read, way assembly (shuffle join), closed
  polygons, point-in-polygon of amenity POIs against thousands of OSM
  polygons, rollup. Many polygons, few points.
"""

from __future__ import annotations

import numpy as np

from . import inputs

# full and smoke sizes; warm-up inputs are fixed (seed 0) and tiny
SIZES = {
    "decode": {"full": dict(files=4, blocks=96), "smoke": dict(files=2, blocks=4)},
    "pip_tiles": {
        "full": dict(n_points=800_000, n_polygons=2000),
        "smoke": dict(n_points=20_000, n_polygons=40),
    },
    "osm_layers": {
        "full": dict(n_blocks=24, rings_per_block=280, pois_per_block=1400),
        "smoke": dict(n_blocks=3),
    },
}
WARM_SEED = 0
TINY_OSM_BLOCKS = 4


class CheckFailed(AssertionError):
    """The job's output differs from the independently computed truth."""


def check_equal(what: str, got: dict, want: dict) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got}, want {want}")


def rollup_summary(hits) -> dict:
    """Roll containment pairs up by (polygon, x, y) and reduce the
    groups to the few numbers ``inputs.rollup_truth`` predicts."""
    from pyspark.sql import functions as F

    roll = hits.groupBy("polygon_id", "x", "y").count()
    row = roll.agg(
        F.count("*").alias("groups"),
        F.sum("count").alias("pairs"),
        F.sum(F.col("polygon_id") * F.col("count")).alias("sum_polygon"),
        F.sum(F.col("x") * F.col("count")).alias("sum_x"),
        F.sum(F.col("y") * F.col("count")).alias("sum_y"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("pairs", "groups", "sum_polygon", "sum_x", "sum_y")}


def rollup_expected(truth: dict) -> dict:
    return {k: truth[k] for k in ("pairs", "groups", "sum_polygon", "sum_x", "sum_y")}


def tiled(points, lat="lat", lon="lon"):
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.functions.geo import tile_x_col, tile_y_col

    return points.select(
        "point_id", lat, lon,
        tile_x_col(F.col(lon), inputs.TILE_ZOOM).alias("x"),
        tile_y_col(F.col(lat), inputs.TILE_ZOOM).alias("y"),
    )


def polygons_df(spark, rings):
    import pandas as pd

    ids, lats, lons = rings
    pdf = pd.DataFrame({
        "polygon_id": ids,
        "lats": [a.tolist() for a in lats],
        "lons": [a.tolist() for a in lons],
    })
    return spark.createDataFrame(
        pdf, "polygon_id long, lats array<double>, lons array<double>"
    )


def osm_chain(spark, paths):
    """read_pbf(node, way) -> assembled ways -> closed landuse polygons,
    plus tiled amenity POIs. Returns (read_pbf result, polygons, POIs)."""
    from pyspark.sql import functions as F

    from osm_read_enhanced_spark.operators.polygons import (
        assemble_way_geometries,
        closed_way_polygons,
    )
    from osm_read_enhanced_spark.sources.pbf.reader import read_pbf

    dfs = read_pbf(spark, paths, kinds=("node", "way"))
    polygons = closed_way_polygons(
        assemble_way_geometries(dfs["ways"], dfs["nodes"]), kinds=["landuse"]
    )
    pois = tiled(
        dfs["nodes"]
        .filter(F.map_contains_key("tags", F.lit("amenity")))
        .withColumnRenamed("id", "point_id")
    )
    return dfs, polygons, pois


def pip_rollup(points, polygons):
    from osm_read_enhanced_spark.operators.spatial_join import pip_join_broadcast

    return rollup_summary(pip_join_broadcast(points, polygons, keep_cols=("x", "y")))


class Workload:
    name = ""

    def __init__(self, cache_root: str, seed: int, size: str = "full"):
        self.cache_root = cache_root
        self.seed = seed
        self.size = SIZES[self.name][size]

    def tiny_osm(self) -> dict:
        """The fixed tiny OSM extract: warm-up input of ``osm_layers``,
        and the input of the polygon layers in traced runs of the
        workloads that do not assemble polygons themselves."""
        return inputs.osm_input(self.cache_root, WARM_SEED, TINY_OSM_BLOCKS)

    def bind(self, spark):
        """Turn inputs into DataFrames, outside every timed interval."""

    def pip_inputs(self, spark, chain):
        """Traced runs: (tiled points, polygons, numpy sample with truth)
        for the pip and tiles layers; by default the OSM chain's own."""
        _, polygons, pois = chain
        return pois, polygons, self.osm


class Decode(Workload):
    name = "decode"

    def prepare(self):
        self.paths, self.truth = inputs.decode_input(self.cache_root, self.seed, **self.size)
        self.warm_paths, self.warm_truth = inputs.decode_input(
            self.cache_root, WARM_SEED, files=2, blocks=4, nodes_per_block=1000, ways_per_block=50
        )
        self.items = self.truth["node"]["n"] + self.truth["way"]["n"]
        self.osm = self.tiny_osm()
        self.pbf_paths = self.paths

    def _count(self, spark, paths, truth):
        from pyspark.sql import functions as F

        from osm_read_enhanced_spark.sources.pbf.reader import read_pbf_union

        rows = read_pbf_union(spark, paths).groupBy("kind").agg(
            F.count("*").alias("n"),
            F.sum("id").alias("ids"),
            F.sum(F.round(F.col("lat") * 1e7).cast("long")).alias("lat"),
            F.sum(F.round(F.col("lon") * 1e7).cast("long")).alias("lon"),
        ).collect()
        got = {r["kind"]: {k: r[k] for k in ("n", "ids", "lat", "lon")} for r in rows}
        check_equal("decode counts by kind", got, truth)

    def warm(self, spark):
        self._count(spark, self.warm_paths, self.warm_truth)

    def job(self, spark):
        self._count(spark, self.paths, self.truth)


class PipTiles(Workload):
    name = "pip_tiles"

    def prepare(self):
        self.rings, self.truth = inputs.pip_tiles_input(self.cache_root, self.seed, **self.size)
        self.warm_rings, self.warm_truth = inputs.pip_tiles_input(
            self.cache_root, WARM_SEED, n_points=40_000, n_polygons=50
        )
        self.items = self.truth["n_points"]
        self.osm = self.tiny_osm()
        self.pbf_paths = self.osm["paths"]

    def points(self, spark, truth):
        from pyspark.sql import functions as F

        from osm_read_enhanced_spark.session import python_parallelism

        reg = inputs.PIP_REGION
        ids = F.col("id")
        frac_lat = (ids * inputs.R2_A + F.lit(truth["s1"])) % 1.0
        frac_lon = (ids * inputs.R2_B + F.lit(truth["s2"])) % 1.0
        pts = spark.range(0, truth["n_points"], 1, python_parallelism(spark)).select(
            ids.alias("point_id"),
            (F.lit(reg["lat0"]) + F.lit(reg["dlat"]) * frac_lat).alias("lat"),
            (F.lit(reg["lon0"]) + F.lit(reg["dlon"]) * frac_lon).alias("lon"),
        )
        return tiled(pts)

    def bind(self, spark):
        self.polygons = polygons_df(spark, self.rings)

    def warm(self, spark):
        got = pip_rollup(self.points(spark, self.warm_truth), polygons_df(spark, self.warm_rings))
        check_equal("pip_tiles warm-up rollup", got, rollup_expected(self.warm_truth))

    def job(self, spark):
        got = pip_rollup(self.points(spark, self.truth), self.polygons)
        check_equal("pip_tiles rollup", got, rollup_expected(self.truth))

    def pip_inputs(self, spark, chain):
        ids = np.arange(min(self.truth["n_points"], 100_000), dtype=np.int64)
        lat, lon = inputs.pip_points_numpy(ids, self.truth["s1"], self.truth["s2"])
        sample = {"rings": self.rings, "pois": (lat, lon), "truth": self.truth}
        return self.points(spark, self.truth), self.polygons, sample


class OsmLayers(Workload):
    name = "osm_layers"

    def prepare(self):
        self.osm = inputs.osm_input(self.cache_root, self.seed, **self.size)
        self.truth = self.osm["truth"]
        self.warm_osm = self.tiny_osm()
        self.pbf_paths = self.osm["paths"]
        self.items = self.truth["n_nodes"] + self.truth["n_ways"]

    def _run(self, spark, osm):
        from osm_read_enhanced_spark.sources.pbf.reader import release_pbf

        dfs, polygons, pois = osm_chain(spark, osm["paths"])
        try:
            got = pip_rollup(pois, polygons)
        finally:
            release_pbf(dfs)
        check_equal("osm_layers rollup", got, rollup_expected(osm["truth"]))

    def warm(self, spark):
        self._run(spark, self.warm_osm)

    def job(self, spark):
        self._run(spark, self.osm)


WORKLOADS = {w.name: w for w in (Decode, PipTiles, OsmLayers)}
