"""Spark-side PBF reader tests: driver block plan + mapInArrow decode.

Each golden test on the reference's own files has an ``_encoded`` twin
that reads a whole file framed by hand from the §A1/§A2 blocks, so the
goldens run on any host."""

import os

import pytest
from pyspark.sql import functions as F

from osm_read_enhanced_spark.fixtures import build_pitcairn_like, build_scale_pbf_fast
from osm_read_enhanced_spark.sources.pbf import (
    decode_blob,
    pbf_block_index,
    read_pbf,
    read_pbf_union,
    scan_blocks,
)
from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload
from osm_read_enhanced_spark.sources.pbf.reader import UNION_SCHEMA, count_elements

# sibling test modules: the hand-encoded blocks and the oracle decoder
from test_differential import independent_decode, reference_file
from test_pbf_decode import a1_block, a2_block, encoded_pbf

TEST_PBF = "/root/reference/test/test.pbf"
MANY_NODES_PBF = "/root/reference/test/manyNodes.pbf"


@pytest.fixture(scope="module")
def a1_pbf(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("a1") / "test.pbf")
    return path, encoded_pbf(path, a1_block())


@pytest.fixture(scope="module")
def a2_pbf(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("a2") / "manyNodes.pbf")
    encoded_pbf(path, a2_block())
    return path


def _assert_block_index(spark, path, data_size):
    idx = pbf_block_index(spark, path).orderBy("block_id").collect()
    assert [r.block_type for r in idx] == ["OSMHeader", "OSMData"]
    assert idx[1].size == data_size


@reference_file(TEST_PBF, twin="test_block_index_df_encoded")
def test_block_index_df(spark):
    _assert_block_index(spark, TEST_PBF, 476)


def test_block_index_df_encoded(spark, a1_pbf):
    path, blob_len = a1_pbf
    _assert_block_index(spark, path, blob_len)


def _assert_entities(dfs):
    nodes = dfs["nodes"].orderBy("lat").collect()
    assert len(nodes) == 6
    by_id = {r.id: r for r in nodes}
    assert abs(by_id[275452090].lat - 51.5075933) < 5e-8
    assert by_id[275452090].tags == {"name": "Jam's Sandwich Bar", "amenity": "cafe"}
    ways = dfs["ways"].collect()
    assert len(ways) == 1
    assert ways[0].refs == [304994979, 319408587, 319408586, 304994980, 304994981]
    assert ways[0].tags["name"] == "üßé€"
    rels = dfs["relations"].collect()
    assert len(rels) == 1
    assert [(m.ref, m.role, m.type) for m in rels[0].members] == [
        (319408586, "", 0),
        (27776903, "", 1),
    ]


@reference_file(TEST_PBF, twin="test_read_pbf_entities_encoded")
def test_read_pbf_entities(spark):
    _assert_entities(read_pbf(spark, TEST_PBF))


def test_read_pbf_entities_encoded(spark, a1_pbf):
    _assert_entities(read_pbf(spark, a1_pbf[0]))


def _assert_many_nodes(dfs):
    agg = dfs["nodes"].agg(
        F.count("*").alias("n"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.countDistinct("id").alias("d"),
    ).collect()[0]
    assert (agg.n, agg.lo, agg.hi, agg.d) == (3000, 1, 3000, 3000)


@reference_file(MANY_NODES_PBF, twin="test_read_pbf_many_nodes_count_encoded")
def test_read_pbf_many_nodes_count(spark):
    _assert_many_nodes(read_pbf(spark, MANY_NODES_PBF, kinds=("node",)))


def test_read_pbf_many_nodes_count_encoded(spark, a2_pbf):
    _assert_many_nodes(read_pbf(spark, a2_pbf, kinds=("node",)))


def test_read_pbf_multi_block_distribution(spark, tmp_path):
    """Blocks decode independently across partitions; block-local delta
    chains never span partitions (block = Arrow batch)."""
    path = str(tmp_path / "pitcairn-like.pbf")
    build_pitcairn_like(path)
    dfs = read_pbf(spark, path, partitions=4)
    n_nodes = dfs["nodes"].count()
    assert n_nodes == 800
    per_block = {r.block_id: r["count"] for r in dfs["nodes"].groupBy("block_id").count().collect()}
    assert per_block == {1: 400, 2: 400}
    way_refs = dfs["ways"].select(F.size("refs").alias("n")).agg(F.min("n"), F.max("n")).collect()[0]
    assert way_refs[0] > 0
    rel = dfs["relations"].collect()[0]
    roles = {m.role for m in rel.members}
    assert {"outer", "label", "admin_centre"} <= roles


def _assert_compat(dfs):
    tags = {r.id: r.tags for r in dfs["nodes"].collect()}
    assert tags[275452090] == {"Matt": "private", "jamicu": "gate"}
    assert dfs["ways"].collect()[0].tags == {}


@reference_file(TEST_PBF, twin="test_compat_mode_spark_encoded")
def test_compat_mode_spark(spark):
    _assert_compat(read_pbf(spark, TEST_PBF, kinds=("node", "way"), mode="osm-read-compat"))


def test_compat_mode_spark_encoded(spark, a1_pbf):
    _assert_compat(read_pbf(spark, a1_pbf[0], kinds=("node", "way"), mode="osm-read-compat"))


def _node_ids(df) -> set:
    return {r.id for r in df.filter(F.col("kind") == "node").select("id").collect()}


def test_budget_prefix_spans_files_in_path_order(spark, tmp_path):
    """``max_blocks`` and ``byte_budget`` keep a prefix of the OSMData
    blocks in (path, block_id) order, whatever order the paths come in;
    header blocks never count toward either."""
    a, b = str(tmp_path / "a.pbf"), str(tmp_path / "b.pbf")
    build_scale_pbf_fast(a, n_blocks=2, nodes_per_block=300, ways_per_block=0)
    build_scale_pbf_fast(b, n_blocks=3, nodes_per_block=300, ways_per_block=0,
                         seed=7, id_offset=10**6)
    data = [m for p in (a, b) for m in scan_blocks(p) if m.block_type == "OSMData"]
    ids = [
        {r["id"] for r in independent_decode(decode_blob(read_block_payload(m)))
         if r["kind"] == "node"}
        for m in data
    ]

    def prefix(n):
        return set().union(*ids[:n])

    def read(**kw):
        return _node_ids(read_pbf_union(spark, [b, a], kinds=("node",), **kw))

    assert read(max_blocks=3) == prefix(3)
    assert read(max_blocks=3, block_index=pbf_block_index(spark, [b, a])) == prefix(3)
    ends_in_b = sum(m.size for m in data[:3])  # ends exactly after b's first block
    assert read(byte_budget=ends_in_b) == prefix(3)
    assert read(byte_budget=ends_in_b - 1) == prefix(2)


def test_empty_plans(spark, tmp_path):
    path = str(tmp_path / "a1.pbf")
    blob_len = encoded_pbf(path, a1_block())
    header_only = str(tmp_path / "header_only.pbf")
    encoded_pbf(header_only, None)
    for paths, kw in [
        (path, dict(max_blocks=0)),
        (path, dict(byte_budget=blob_len - 1)),
        (header_only, {}),
    ]:
        dfs = read_pbf(spark, paths, **kw)
        assert dfs["union"].schema == UNION_SCHEMA
        assert dfs["union"].count() == 0
        assert [dfs[k].count() for k in ("nodes", "ways", "relations")] == [0, 0, 0]
    assert count_elements(spark, header_only).count() == 0


def test_decode_reads_plan_without_exchange(spark, a1_pbf):
    """The decode mapInArrow reads the driver's block plan directly: no
    shuffle, cached index or Python stage in front of it."""
    union = read_pbf_union(spark, a1_pbf[0])
    plan = union._jdf.queryExecution().executedPlan().toString()
    below = plan.split("MapInArrow", 1)[1]
    for node in ("Exchange", "InMemoryRelation", "InMemoryTableScan", "MapInPandas"):
        assert node not in below, plan


def test_blocks_dealt_evenly_across_tasks(spark, tmp_path):
    """Block ids restart in every file; copies of one block must still
    spread over the tasks, not land on one."""
    src = str(tmp_path / "src.pbf")
    build_scale_pbf_fast(src, n_blocks=6, nodes_per_block=200, ways_per_block=0)
    paths = []
    for i in range(4):
        paths.append(str(tmp_path / f"copy{i}.pbf"))
        os.link(src, paths[-1])
    union = read_pbf_union(spark, paths, kinds=("node",), partitions=4)
    per_task = [
        r["count"] for r in union.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    assert sum(per_task) == 4 * 6 * 200
    assert len(per_task) == min(4, spark.sparkContext.defaultParallelism)
    assert max(per_task) - min(per_task) <= 200
