"""Spark reader: block-index DataFrame → Arrow-batched decode → entity DFs.

Scale design (SURVEY.md §3.1 "Spark lifecycle equivalent"): the block
index — not raw byte ranges — is what gets distributed. Each task seeks
to its blocks' exact offsets, inflates, and decodes with
``columnar.decode_block_arrow`` (the package's one entity decoder); one
PrimitiveBlock never spans partitions, so the block-local delta decode
(prefix sums) stays inside one Arrow batch. On a real cluster the ``open()`` below is an HDFS/S3 stream via
the executor-local filesystem client; the plan shape is identical.

SINGLE-PASS decode: each block is read, inflated, and TLV-walked ONCE,
emitting every requested entity kind into one tagged-union DataFrame
(``read_pbf_union``) — the engine's equivalent of the reference
decoding each blob once and dispatching all groups (lib/pbfParser.js:
741-759 → visitOSMDataBlock 319-378). ``read_pbf`` derives the per-kind
DataFrames as filters over that union (persisted by default when more
than one kind is requested, so separate downstream actions on nodes AND
ways never re-inflate a block). Requesting a subset of ``kinds`` still
prunes the non-requested group decode entirely (the working version of
the reference's abandoned per-row "decode modes" — SURVEY.md §4 O3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .blocks import scan_blocks
from .decode import count_block_elements, decode_blob

BLOCK_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("block_type", T.StringType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("size", T.LongType(), False),
    ]
)

_META_FIELDS = [
    T.StructField("version", T.IntegerType(), True),
    T.StructField("timestamp", T.LongType(), True),  # epoch ms
    T.StructField("changeset", T.LongType(), True),
    T.StructField("uid", T.LongType(), True),
    T.StructField("user", T.StringType(), True),
    T.StructField("visible", T.BooleanType(), True),
]

MEMBER_TYPE = T.StructType(
    [
        T.StructField("ref", T.LongType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("type", T.IntegerType(), False),
    ]
)

# tagged-union schema of the single-pass reader (mirrors
# columnar.UNION_ARROW_SCHEMA)
UNION_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("refs", T.ArrayType(T.LongType()), True),
        T.StructField("members", T.ArrayType(MEMBER_TYPE), True),
        *_META_FIELDS,
        T.StructField("block_id", T.IntegerType(), False),
    ]
)


def pbf_block_index(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Build the block index as a DataFrame (one scan per file, headers
    only — the Parquet-footer analogue; reference readFileBlocks,
    lib/pbfParser.js:418-456).

    The header walk per file is sequential by nature (framing has no
    central index), so it is parallelized per *file*: each task scans one
    file's headers. Block payloads are NOT read here.
    """
    if isinstance(paths, str):
        paths = [paths]
    files_df = spark.createDataFrame([(p,) for p in paths], "path: string")

    def scan_partition(it):
        for pdf in it:
            for p in pdf["path"]:
                rows = [
                    (b.path, b.block_id, b.block_type, b.offset, b.size)
                    for b in scan_blocks(p)
                ]
                yield pd.DataFrame(
                    rows, columns=["path", "block_id", "block_type", "offset", "size"]
                )

    return files_df.repartition(len(paths)).mapInPandas(scan_partition, BLOCK_INDEX_SCHEMA)


def _read_block_checked(path: str, block_id, offset, size) -> bytes:
    """Seek+read one blob payload with the truncation guard (shared by
    the decode and count paths)."""
    with open(path, "rb") as f:
        f.seek(int(offset))
        raw = f.read(int(size))
    if len(raw) < int(size):
        raise ValueError(
            f"{path}: truncated blob {block_id} (expected {size} bytes "
            f"at offset {offset}, got {len(raw)})"
        )
    return raw


def _select_data_blocks(
    spark, paths, block_index, partitions, max_blocks, byte_budget
) -> DataFrame:
    """Shared index plumbing: filter/budget/partition the block index.

    ``max_blocks`` = reference maxBlobLimit (Core_Read.js:288-292);
    ``byte_budget`` = reference read_threshold (Core_Read.js:431-459):
    both expressed as LIMIT / running-total window on the tiny block
    index — no data is scanned for skipped blocks.
    """
    if block_index is None:
        # cache: the per-file header walk runs once, not once per action.
        # Released via release_pbf(dfs) — read_pbf threads
        # the cached index through the returned dict for that purpose.
        block_index = pbf_block_index(spark, paths).cache()
    index = block_index
    if partitions is None:
        from ...session import python_parallelism

        partitions = python_parallelism(spark)
    data_blocks = index.filter(index.block_type == "OSMData")
    if max_blocks is not None:
        data_blocks = data_blocks.orderBy("path", "block_id").limit(max_blocks)
    if byte_budget is not None:
        from pyspark.sql import Window

        w = (
            Window.orderBy("path", "block_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        data_blocks = (
            data_blocks.withColumn("_cum_bytes", F.sum("size").over(w))
            .filter(F.col("_cum_bytes") <= byte_budget)
            .drop("_cum_bytes")
        )
    return data_blocks.repartition(partitions, "block_id")


def read_pbf_union(
    spark: SparkSession,
    paths: str | list[str],
    kinds: tuple = ("node", "way", "relation"),
    mode: str = "strict",
    want_info: bool = True,
    partitions: int | None = None,
    block_index: DataFrame | None = None,
    max_blocks: int | None = None,
    byte_budget: int | None = None,
) -> DataFrame:
    """SINGLE-PASS read: every block is seeked, inflated, and decoded
    exactly once per action, emitting all requested kinds into one
    tagged-union DataFrame (UNION_SCHEMA: kind ∈ node|way|relation,
    entity columns nulled where not applicable).

    The decode is Arrow-native (``columnar.decode_blob_to_batches``):
    mapInArrow yields RecordBatches built directly from numpy index
    arrays and C++ string-table takes — no per-row python objects, no
    pandas detour. This is the hot path; per-kind plan pruning still
    applies via ``kinds``.
    """
    data_blocks = _select_data_blocks(
        spark, paths, block_index, partitions, max_blocks, byte_budget
    )
    kinds = tuple(kinds)

    def decode_partition(batches):
        import pyarrow as pa

        from .columnar import decode_blob_to_batches

        # coalesce small per-block batches (ways/relations are a few
        # hundred rows per block) before the Arrow IPC hand-off; full
        # dense-node batches (~8k rows) pass through untouched
        pending: list = []
        pending_rows = 0

        def flush():
            # combine_chunks() may legitimately return >1 batch per
            # column chunk (int32 offset overflow on very large string
            # data) — yield every batch, never just [0]
            nonlocal pending, pending_rows
            if not pending:
                return []
            out = (
                [pending[0]]
                if len(pending) == 1
                else pa.Table.from_batches(pending).combine_chunks().to_batches()
            )
            pending, pending_rows = [], 0
            return out

        for batch in batches:
            d = batch.to_pydict()
            for path, block_id, offset, size in zip(
                d["path"], d["block_id"], d["offset"], d["size"]
            ):
                raw = _read_block_checked(path, block_id, offset, size)
                for rb in decode_blob_to_batches(
                    raw, int(block_id), mode=mode, kinds=kinds, want_info=want_info
                ):
                    if rb.num_rows >= 4096:
                        yield from flush()
                        yield rb
                    else:
                        pending.append(rb)
                        pending_rows += rb.num_rows
                        if pending_rows >= 16384:
                            yield from flush()
        yield from flush()

    return data_blocks.mapInArrow(decode_partition, UNION_SCHEMA)


_META_NAMES = [f.name for f in _META_FIELDS]
_KIND_COLS = {
    "node": ["id", "lat", "lon", "tags", *_META_NAMES, "block_id"],
    "way": ["id", "refs", "tags", *_META_NAMES, "block_id"],
    "relation": ["id", "tags", "members", *_META_NAMES, "block_id"],
}


def read_pbf(
    spark: SparkSession,
    paths: str | list[str],
    kinds: tuple = ("node", "way", "relation"),
    mode: str = "strict",
    want_info: bool = True,
    partitions: int | None = None,
    block_index: DataFrame | None = None,
    max_blocks: int | None = None,
    byte_budget: int | None = None,
    persist: bool | None = None,
) -> dict[str, DataFrame]:
    """Read a PBF file into entity DataFrames {kind+'s': DataFrame}.

    All kinds come from ONE single-pass union read (``read_pbf_union``):
    a block is never inflated more than once per action. ``persist``
    (default: True when >1 kind is requested) persists the decoded union
    MEMORY_AND_DISK so separate downstream actions on nodes AND ways
    share one decode — the Spark equivalent of the reference decoding
    each blob once for all visitors. Pass ``persist=False`` for
    fire-once pipelines that already combine the kinds in one action.

    ``partitions`` spreads blocks across tasks (defaults to the capped
    Python parallelism). Repartitioning by block_id balances work; AQE
    coalescing mitigates stragglers.
    """
    if block_index is None:
        # create the cached index HERE (not inside _select_data_blocks) so
        # it can be handed back for release — long-lived sessions doing
        # many reads must not accumulate storage (ADVICE r2)
        block_index = pbf_block_index(spark, paths).cache()
    union = read_pbf_union(
        spark, paths, kinds, mode, want_info, partitions,
        block_index, max_blocks, byte_budget,
    )
    if persist is None:
        persist = len(kinds) > 1
    if persist:
        from pyspark import StorageLevel

        union = union.persist(StorageLevel.MEMORY_AND_DISK)
    out = {}
    for kind in kinds:
        out[kind + "s"] = union.filter(F.col("kind") == kind).select(*_KIND_COLS[kind])
    # expose the shared (possibly persisted) union + cached index so
    # callers can release storage with release_pbf(dfs)
    out["union"] = union
    out["_block_index"] = block_index
    return out


def release_pbf(dfs: dict) -> None:
    """Release all storage held by a ``read_pbf`` result: the persisted
    decoded union and the cached block index. Safe to call twice."""
    for key in ("union", "_block_index"):
        df = dfs.get(key)
        if df is not None:
            df.unpersist()


def count_elements(
    spark: SparkSession, paths: str | list[str], partitions: int | None = None
) -> DataFrame:
    """Fast per-block element counts WITHOUT value decode (reference's
    quick-count path, lib/OSM_Blob.js:1539-1576 / Decode:595-631):
    dense-node count = varint terminator bytes in the packed id field,
    ways/relations = message occurrences — no delta/tag/coordinate
    decode at all, and unlike the reference's 50k/10k/5k caps the
    counts are exact.

    → DataFrame(path, block_id, n_nodes, n_ways, n_relations,
    n_changesets). Changeset groups are counted (never silently
    invisible) though their payload is not decoded — reference parity.
    """
    index = pbf_block_index(spark, paths).filter(F.col("block_type") == "OSMData")
    if partitions is None:
        from ...session import python_parallelism

        partitions = python_parallelism(spark)
    index = index.repartition(partitions, "block_id")

    schema = T.StructType(
        [
            T.StructField("path", T.StringType(), False),
            T.StructField("block_id", T.IntegerType(), False),
            T.StructField("n_nodes", T.LongType(), False),
            T.StructField("n_ways", T.LongType(), False),
            T.StructField("n_relations", T.LongType(), False),
            T.StructField("n_changesets", T.LongType(), False),
        ]
    )

    def count_partition(it):
        for pdf in it:
            rows = []
            for path, block_id, offset, size in zip(
                pdf["path"], pdf["block_id"], pdf["offset"], pdf["size"]
            ):
                raw = _read_block_checked(path, block_id, offset, size)
                n_nodes, n_ways, n_rels, n_cs = count_block_elements(decode_blob(raw))
                rows.append((path, int(block_id), n_nodes, n_ways, n_rels, n_cs))
            yield pd.DataFrame(
                rows,
                columns=[
                    "path", "block_id", "n_nodes", "n_ways", "n_relations", "n_changesets",
                ],
            )

    return index.mapInPandas(count_partition, schema)
