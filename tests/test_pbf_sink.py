"""Distributed PBF sink: DataFrames → part files → read back identical
(sink → source round-trip over the reference fixture, its hand-encoded
twin and a multi-block generated file)."""

import pytest

from osm_read_enhanced_spark.fixtures import build_scale_pbf_fast
from osm_read_enhanced_spark.sources.pbf import read_pbf
from osm_read_enhanced_spark.sources.pbf.sink import write_pbf_dataset

# sibling test modules: the hand-encoded §A1 block and its file framing
from test_differential import reference_file
from test_pbf_decode import a1_block, encoded_pbf

REF_PBF = "/root/reference/test/test.pbf"


def _collect_nodes(df):
    return {
        r.id: (round(r.lat, 9), round(r.lon, 9), dict(r.tags or {}),
               r.version, r.timestamp, r.changeset, r.uid, r.user)
        for r in df.collect()
    }


def _assert_roundtrip(spark, tmp_path, src_path, compress):
    src = read_pbf(spark, src_path)
    out_dir = str(tmp_path / f"sinked_{compress}")
    manifest = write_pbf_dataset(
        out_dir,
        nodes=src["nodes"],
        ways=src["ways"],
        relations=src["relations"],
        files_per_kind=2,
        compress=compress,
    )
    files = [r.path for r in manifest.collect()]
    assert files and all(f.endswith(".pbf") for f in files)
    back = read_pbf(spark, files)
    assert _collect_nodes(back["nodes"]) == _collect_nodes(src["nodes"])
    w0 = src["ways"].collect()[0]
    w1 = back["ways"].collect()[0]
    assert (w1.id, w1.refs, dict(w1.tags), w1.version, w1.timestamp, w1.user) == (
        w0.id, w0.refs, dict(w0.tags), w0.version, w0.timestamp, w0.user
    )
    r0 = src["relations"].collect()[0]
    r1 = back["relations"].collect()[0]
    assert r1.id == r0.id and dict(r1.tags) == dict(r0.tags)
    assert [tuple(m) for m in r1.members] == [tuple(m) for m in r0.members]


@reference_file(REF_PBF, twin="test_roundtrip_reference_fixture_encoded")
@pytest.mark.parametrize("compress", [True, False])
def test_roundtrip_reference_fixture(spark, tmp_path, compress):
    _assert_roundtrip(spark, tmp_path, REF_PBF, compress)


@pytest.mark.parametrize("compress", [True, False])
def test_roundtrip_reference_fixture_encoded(spark, tmp_path, compress):
    path = str(tmp_path / "test.pbf")
    encoded_pbf(path, a1_block())
    _assert_roundtrip(spark, tmp_path, path, compress)


def test_roundtrip_multiblock_counts_and_ranges(spark, tmp_path):
    pbf = str(tmp_path / "gen.pbf")
    info = build_scale_pbf_fast(pbf, n_blocks=4, nodes_per_block=1000, ways_per_block=50)
    src = read_pbf(spark, pbf)
    out_dir = str(tmp_path / "sinked")
    manifest = write_pbf_dataset(
        out_dir, nodes=src["nodes"], ways=src["ways"], files_per_kind=3,
        per_block=512,
    ).collect()
    # range partitioning: files cover disjoint, sorted id ranges per kind
    for kind in ("node", "way"):
        spans = sorted(
            (r.min_id, r.max_id) for r in manifest if r.kind == kind
        )
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 < b0
    back = read_pbf(spark, [r.path for r in manifest])
    assert back["nodes"].count() == info["nodes"]
    assert back["ways"].count() == info["ways"]
    # spot equality on a sample of node rows
    a = {r.id: (r.lat, r.lon) for r in src["nodes"].limit(50).collect()}
    b = {r.id: (r.lat, r.lon) for r in back["nodes"].filter(
        back["nodes"].id.isin(*a.keys())).collect()}
    assert a == b


def test_sink_rerun_is_idempotent(spark, tmp_path):
    """Deterministic per-partition filenames: re-running the write (the
    task-retry / whole-job-retry shape) overwrites the same files
    instead of duplicating entities."""
    import os

    pbf = str(tmp_path / "gen.pbf")
    info = build_scale_pbf_fast(pbf, n_blocks=2, nodes_per_block=500, ways_per_block=20)
    src = read_pbf(spark, pbf)
    out_dir = str(tmp_path / "sinked")
    m1 = write_pbf_dataset(out_dir, nodes=src["nodes"], files_per_kind=2).collect()
    m2 = write_pbf_dataset(out_dir, nodes=src["nodes"], files_per_kind=2).collect()
    assert sorted(r.path for r in m1) == sorted(r.path for r in m2)
    files = [f for f in os.listdir(out_dir) if f.endswith(".pbf")]
    assert len(files) == len(m1)
    assert read_pbf(spark, [r.path for r in m2])["nodes"].count() == info["nodes"]
