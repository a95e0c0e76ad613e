"""The north-rule pipeline, composed end-to-end (BASELINE.json
north_star): an image+caption table's geotags are batch-encoded to hex
(H3-shaped) and S2 cells via vectorized Arrow UDFs, joined to
OSM-derived polygon layers with the broadcast grid-index point-in-polygon
operator, assigned slippy Z/X/Y raster tiles, and committed to an
iceberg-lite table partition-by-partition with per-partition lineage
(+ df.observe row counts) so a killed job resumes idempotently from the
last committed partition.

Every stage is an existing, independently-tested operator — this module
is the composition, not new math:

- cell encode: plans.udfs.s2_cell_l10 / hex_cell_udf (Arrow batches)
- PIP: operators.spatial_join.pip_join_broadcast (executor-cached bbox
  grid + ring-edge ray-cast kernel, zero shuffle on the image side)
- tiles: functions.geo.tile_x_col/tile_y_col (pure JVM Column math)
- checkpointed sink: sources.iceberg_lite.write_partitioned (atomic
  rename + manifest + left-anti resume)

Scale notes (100 TB shape): the image side is never shuffled until the
final partition write (cell/tile columns are projections; the PIP join
broadcasts the polygon layer). Partitioning is by coarse tile prefix —
spatially clustered, bounded cardinality, and the unit of resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_images(
    images: DataFrame,
    polygons: DataFrame | None = None,
    hex_res: int = 8,
    s2_level: int = 10,
    tile_zoom: int = 12,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """images(+geotag) → + hex_cell, s2_cell, z/x/y tile, polygon_id.

    ``polygons`` (polygon_id, lats, lons) joins via broadcast grid-index
    PIP; images outside every polygon keep polygon_id NULL (left join —
    rows are never dropped). ``s2_level`` is fixed at 10 by the shipped
    UDF; other levels via functions.s2 directly.
    """
    from ..functions.geo import tile_x_col, tile_y_col
    from .. import plans  # noqa: F401  (udfs import registers pandas UDFs)
    from ..plans.udfs import hex_cell_udf, s2_cell_l10

    out = images.withColumns(
        {
            "hex_cell": hex_cell_udf(hex_res)(lat_col, lon_col),
            "s2_cell": s2_cell_l10(lat_col, lon_col),
            "tile_z": F.lit(tile_zoom).cast("int"),
            "tile_x": tile_x_col(F.col(lon_col), tile_zoom),
            "tile_y": tile_y_col(F.col(lat_col), tile_zoom),
        }
    )
    if polygons is not None:
        from ..operators.spatial_join import pip_join_broadcast

        pip = pip_join_broadcast(
            images.select(
                F.col(id_col).alias("point_id"), F.col(lat_col), F.col(lon_col)
            ),
            polygons,
        ).withColumnsRenamed({"point_id": id_col})
        # equi-join back on the unique image id: the heavy columns
        # (bytes) never pass through the Python PIP stage, and the pip
        # side is NOT broadcast (it is O(|images inside polygons|) —
        # driver-fatal at scale); a key shuffle join is the right plan
        out = out.join(pip, id_col, "left")
    return out


def partition_key_col(zoom_from: int = 12, zoom_to: int = 6):
    """Coarse-tile resume/partition key: z{zoom_to}-x-y derived from the
    z{zoom_from} tile by bit shift (pure Column math)."""
    shift = zoom_from - zoom_to
    px = F.shiftright(F.col("tile_x"), shift)
    py = F.shiftright(F.col("tile_y"), shift)
    return F.concat_ws("-", F.lit(f"z{zoom_to}"), px, py)


def run_north_star(
    spark,
    images: DataFrame,
    polygons: DataFrame | None,
    table_path: str,
    hex_res: int = 8,
    tile_zoom: int = 12,
    partition_zoom: int = 6,
    resume: bool = True,
) -> list[dict]:
    """Enrich → partition by coarse tile → committed, resumable write.

    Returns the lineage records of the partitions committed by THIS run
    (already-committed partitions are skipped when ``resume``) — the
    kill/rerun contract: re-running after a crash commits exactly the
    missing partitions, byte-identical."""
    from ..sources.iceberg_lite import write_partitioned

    enriched = enrich_images(
        images, polygons, hex_res=hex_res, tile_zoom=tile_zoom
    ).withColumn("part_key", partition_key_col(tile_zoom, partition_zoom))
    return write_partitioned(enriched, table_path, "part_key", resume=resume)
