"""Spark reader: driver-side block plan → Arrow-batched decode → entity DFs.

Scale design (SURVEY.md §3.1 "Spark lifecycle equivalent"): the block
index — not raw byte ranges — is what gets distributed. The driver walks
the block headers, slices the OSMData blocks for ``max_blocks`` and
``byte_budget``, and deals them to tasks by compressed size; the plan
reaches the decode ``mapInArrow`` as one row per task, with no exchange.
Each task seeks to its blocks' offsets, inflates, and decodes with
``columnar.decode_block_arrow`` (the package's one entity decoder); a
PrimitiveBlock never spans partitions, so the block-local delta decode
stays inside one Arrow batch. On a real cluster the ``open()`` in
``blocks.read_block_payload`` is an HDFS/S3 stream; the plan is the same.

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

import heapq
import itertools
from dataclasses import asdict

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .blocks import BlockMeta, read_block_payload, scan_blocks
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


def _scan(paths: str | list[str]) -> list[BlockMeta]:
    return [b for p in ([paths] if isinstance(paths, str) else paths) for b in scan_blocks(p)]


def _local_df(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """A LocalRelation: from an Arrow table, Spark scans the rows in the
    JVM, one row per partition up to the default parallelism; a Python
    list would go through a Python worker first."""
    return spark.createDataFrame(pa.Table.from_pylist(rows, to_arrow_schema(schema)), schema)


def pbf_block_index(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """The block index as a local DataFrame over the driver's header walk
    (the Parquet-footer analogue; reference readFileBlocks,
    lib/pbfParser.js:418-456). No payload is read; a missing path raises
    ``FileNotFoundError`` here."""
    return _local_df(spark, [asdict(b) for b in _scan(paths)], BLOCK_INDEX_SCHEMA)


def _block_plan(spark, paths, block_index, partitions, max_blocks, byte_budget) -> DataFrame:
    """One row per decode task holding the blocks it reads.

    The OSMData blocks in (path, block_id) order are cut to the first
    ``max_blocks`` (reference maxBlobLimit, Core_Read.js:288-292), then
    to the longest prefix whose running size fits ``byte_budget``
    (reference read_threshold, Core_Read.js:431-459). They are dealt
    largest first, each onto the least-loaded of ``min(partitions,
    n_blocks)`` tasks (LPT; Assignment of Different-Sized Inputs in
    MapReduce, EDBT'15), and each task reads its blocks in file order.
    """
    if block_index is not None:
        index = [BlockMeta(**r.asDict()) for r in block_index.collect()]
    else:
        index = _scan(paths)
    blocks = sorted(b for b in index if b.block_type == "OSMData")[:max_blocks]
    if byte_budget is not None:
        running = itertools.accumulate(b.size for b in blocks)
        blocks = [b for b, total in zip(blocks, running) if total <= byte_budget]
    if partitions is None:
        from ...session import python_parallelism

        partitions = python_parallelism(spark)
    tasks = [[] for _ in range(min(partitions, len(blocks)))]
    loads = [(0, i) for i in range(len(tasks))]
    for b in sorted(blocks, key=lambda b: -b.size):
        load, i = heapq.heappop(loads)
        tasks[i].append(b)
        heapq.heappush(loads, (load + b.size, i))
    rows = [{"blocks": [asdict(b) for b in sorted(t)]} for t in tasks]
    schema = T.StructType([T.StructField("blocks", T.ArrayType(BLOCK_INDEX_SCHEMA, False), False)])
    return _local_df(spark, rows, schema)


def _task_blocks(batches):
    """The BlockMeta entries of a plan partition's Arrow batches."""
    for batch in batches:
        for task in batch.column("blocks").to_pylist():
            yield from (BlockMeta(**b) for b in task)


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

    The driver walks the block headers when this is called (a missing
    path raises ``FileNotFoundError`` here, not at the first action) and
    deals the blocks to at most ``partitions`` tasks by compressed size.
    """
    plan = _block_plan(spark, paths, block_index, partitions, max_blocks, byte_budget)
    kinds = tuple(kinds)

    def decode_partition(batches):
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

        for b in _task_blocks(batches):
            for rb in decode_blob_to_batches(
                read_block_payload(b), b.block_id, mode=mode, kinds=kinds, want_info=want_info
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

    return plan.mapInArrow(decode_partition, UNION_SCHEMA)


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

    ``partitions`` caps the decode tasks (defaults to the capped Python
    parallelism); the driver deals the blocks to them by compressed
    size, largest first. The block headers are walked when this is
    called, so a missing path raises ``FileNotFoundError`` here, not at
    the first action.
    """
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
    # expose the shared (possibly persisted) union so callers can
    # release its storage with release_pbf(dfs)
    out["union"] = union
    return out


def release_pbf(dfs: dict) -> None:
    """Release the storage held by a ``read_pbf`` result: the persisted
    decoded union. Safe to call twice."""
    dfs["union"].unpersist()


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
    schema = T.StructType.fromDDL(
        "path string not null, block_id int not null, n_nodes long not null, "
        "n_ways long not null, n_relations long not null, n_changesets long not null"
    )
    arrow = to_arrow_schema(schema)

    def count_partition(batches):
        rows = [
            (b.path, b.block_id, *count_block_elements(decode_blob(read_block_payload(b))))
            for b in _task_blocks(batches)
        ]
        yield pa.RecordBatch.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=arrow)

    plan = _block_plan(spark, paths, None, partitions, None, None)
    return plan.mapInArrow(count_partition, schema)
