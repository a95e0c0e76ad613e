"""Synthetic Iceberg-lite image+caption table (BASELINE.json input_hint:
image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
caption:string, phash:int64 — plus lat/lon geotags).

Deterministic (seed folded from image index), generated distributedly:
``spark.range`` → one Arrow batch per task renders, encodes, and hashes
its images — the generator itself scales like the engine (no driver
loop). Geotags are a mixture of world-uniform + a dense urban cluster
so the dense-city skew path (AQE skew join) is actually
exercised (SURVEY.md §7 risk register).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions import codecs

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), False),
        T.StructField("lon", T.DoubleType(), False),
    ]
)

# the dense cluster ("urban core") that produces hot cells
CLUSTER_LAT, CLUSTER_LON, CLUSTER_FRAC, CLUSTER_SIGMA = 51.5074, -0.1078, 0.4, 0.02

_FMTS = ("ppm", "bmp", "png", "dct")


def render_image(idx: int, w: int = 32, h: int = 32) -> np.ndarray:
    """Deterministic smooth-ish RGB pattern f(idx): gradients + a moving
    disc — compressible, realistic for the DCT path."""
    rng = np.random.default_rng(42 + idx)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.empty((h, w, 3), dtype=np.float64)
    fx, fy = rng.uniform(0.5, 3, 2)
    base[..., 0] = 128 + 100 * np.sin(2 * np.pi * fx * xx / w)
    base[..., 1] = 128 + 100 * np.cos(2 * np.pi * fy * yy / h)
    base[..., 2] = (xx + yy) * 255.0 / (w + h)
    cx, cy, r = rng.uniform(4, w - 4), rng.uniform(4, h - 4), rng.uniform(3, 8)
    disc = ((xx - cx) ** 2 + (yy - cy) ** 2) < r**2
    base[disc] = rng.uniform(0, 255, 3)
    return np.clip(base, 0, 255).astype(np.uint8)


# near-duplicate variant knobs: a ±STRENGTH perturbation on one
# PATCH×PATCH block — small enough that the 64-bit pHash moves only a
# few bits (measured: hamming 0-2 typical, rare high-energy outliers),
# while distinct renders differ by ≥18 bits
VARIANT_STRENGTH, VARIANT_PATCH = 8, 12


def variant_image(idx: int, w: int = 32, h: int = 32) -> np.ndarray:
    """A deterministic near-duplicate of ``render_image(idx)``: the same
    pixels with a small ±VARIANT_STRENGTH patch perturbation."""
    img = render_image(idx, w, h).astype(np.int16)
    rng = np.random.default_rng(5042 + idx)
    # y bound from h, x bound from w (ADVICE r3 low: one shared h-based
    # bound misplaced the patch on non-square images)
    y = int(rng.integers(0, max(h - VARIANT_PATCH, 1)))
    x = int(rng.integers(0, max(w - VARIANT_PATCH, 1)))
    img[y : y + VARIANT_PATCH, x : x + VARIANT_PATCH] += rng.integers(
        -VARIANT_STRENGTH, VARIANT_STRENGTH + 1, (VARIANT_PATCH, VARIANT_PATCH, 3)
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def build_images_with_variants(
    spark: SparkSession,
    n_base: int,
    every: int = 3,
    w: int = 32,
    h: int = 32,
    partitions: int | None = None,
) -> DataFrame:
    """``n_base`` base rows plus a near-duplicate variant row for every
    ``every``-th base (ids ``var_…`` vs ``img_…``) — the fixture for
    perceptual-hash near-dup detection. Same distributed one-batch-per-
    task generation as ``build_images_df``; variants share their base's
    geotag (duplicates co-locate in the wild)."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(it):
        for pdf in it:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                fmt = _FMTS[idx % len(_FMTS)]
                la, lo = geotag(idx)
                for prefix, img in (("img", render_image(idx, w, h)),) + (
                    (("var", variant_image(idx, w, h)),) if idx % every == 0 else ()
                ):
                    rows.append(
                        (
                            f"{prefix}_{idx:012d}",
                            bytearray(codecs.encode_image(img, fmt)),
                            w,
                            h,
                            fmt,
                            caption_for(idx, la, lo, fmt),
                            codecs.phash64(img),
                            la,
                            lo,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lat", "lon",
                ],
            )

    return spark.range(0, n_base, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


def geotag(idx: int) -> tuple[float, float]:
    rng = np.random.default_rng(1042 + idx)
    if rng.uniform() < CLUSTER_FRAC:
        return (
            float(CLUSTER_LAT + rng.normal(0, CLUSTER_SIGMA)),
            float(CLUSTER_LON + rng.normal(0, CLUSTER_SIGMA)),
        )
    return float(rng.uniform(-60, 70)), float(rng.uniform(-179, 179))


def caption_for(idx: int, lat: float, lon: float, fmt: str) -> str:
    return f"image {idx:012d} ({fmt}) near lat={lat:.3f} lon={lon:.3f}"


def build_images_df(
    spark: SparkSession, n: int, w: int = 32, h: int = 32, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation of n image rows."""
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(it):
        for pdf in it:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                img = render_image(idx, w, h)
                fmt = _FMTS[idx % len(_FMTS)]
                data = codecs.encode_image(img, fmt)
                la, lo = geotag(idx)
                rows.append(
                    (
                        f"img_{idx:012d}",
                        bytearray(data),
                        w,
                        h,
                        fmt,
                        caption_for(idx, la, lo, fmt),
                        codecs.phash64(img),
                        la,
                        lo,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lat", "lon",
                ],
            )

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


def build_jpeg_images_df(
    spark: SparkSession,
    n: int,
    w: int = 48,
    h: int = 48,
    quality: int = 95,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation of n REAL baseline-JFIF
    rows (functions/jpeg.py): every 3rd image uses 4:2:0 chroma
    subsampling, every 5th adds restart markers — so the q55 decode path
    exercises sampling factors, fancy upsampling and DRI/RSTn on driver
    data, not just the happy path."""
    from ..functions.jpeg import encode_jpeg

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    def gen(it):
        for pdf in it:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                img = render_image(idx, w, h)
                data = encode_jpeg(
                    img,
                    quality=quality,
                    subsample=(idx % 3 == 2),
                    restart_interval=(2 if idx % 5 == 4 else 0),
                )
                la, lo = geotag(idx)
                rows.append(
                    (
                        f"img_{idx:012d}",
                        bytearray(data),
                        w,
                        h,
                        "jpeg",
                        caption_for(idx, la, lo, "jpeg"),
                        codecs.phash64(img),
                        la,
                        lo,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lat", "lon",
                ],
            )

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, IMAGES_SCHEMA)


def write_images_table(
    spark: SparkSession, table_path: str, n: int, buckets: int = 8, **kw
) -> list[dict]:
    """Generate + commit as an Iceberg-lite table partitioned by a
    deterministic bucket of image_id (resume-safe)."""
    from pyspark.sql import functions as F

    from .iceberg_lite import write_partitioned

    df = build_images_df(spark, n, **kw).withColumn(
        "bucket", F.pmod(F.xxhash64("image_id"), F.lit(buckets)).cast("int")
    )
    return write_partitioned(df, table_path, "bucket")
