"""Tests of the one PrimitiveBlock entity decoder,
``columnar.decode_block_arrow``, against the independent oracle decoder
of tests/test_differential.py: every block of every fixture must produce
identical entities, tags, metadata and member order, in both modes.
"""

import pyarrow as pa
import pytest

from osm_read_enhanced_spark.fixtures import build_pitcairn_like, build_scale_pbf_fast
from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload, scan_blocks
from osm_read_enhanced_spark.sources.pbf.columnar import decode_block_arrow
from osm_read_enhanced_spark.sources.pbf.decode import decode_blob
from osm_read_enhanced_spark.sources.pbf.proto import (
    encode_len_field,
    encode_varint_field,
    zigzag_encode,
)
from osm_read_enhanced_spark.sources.pbf.writer import write_pbf

# sibling test modules: the oracle decoder and the §A1/§A2 golden blocks
from test_differential import assert_matches_oracle, engine_rows
from test_pbf_decode import a1_block, a2_block

REF_PBF = "/root/reference/test/test.pbf"


def _compare_file(path, mode="strict"):
    for b in scan_blocks(path):
        if b.block_type != "OSMData":
            continue
        assert_matches_oracle(decode_blob(read_block_payload(b)), mode)


@pytest.mark.parametrize("mode", ["strict", "osm-read-compat"])
def test_reference_fixture(mode):
    _compare_file(REF_PBF, mode)


@pytest.mark.parametrize("mode", ["strict", "osm-read-compat"])
def test_pitcairn_like(tmp_path, mode):
    path = str(tmp_path / "pit.pbf")
    build_pitcairn_like(path)
    _compare_file(path, mode)


def test_scale_blocks(tmp_path):
    path = str(tmp_path / "scale.pbf")
    build_scale_pbf_fast(path, n_blocks=3)
    _compare_file(path)


def test_multi_group_info_changesets(tmp_path):
    path = str(tmp_path / "multi.pbf")
    nodes = [
        dict(
            id=100 + i, lat=10.0 + i * 0.001, lon=20.0, tags={"n": str(i)},
            version=i + 1, timestamp_ms=1_600_000_000_000 + i * 1000,
            changeset=50 + i, uid=7, user=f"u{i}",
        )
        for i in range(5)
    ]
    write_pbf(
        path,
        [
            dict(
                nodes=nodes, dense_group_size=2, changeset_ids=(1, 2),
                ways=[
                    dict(id=900, refs=[100, 101], tags={"highway": "x"},
                         info=dict(version=3, timestamp=5, changeset=9, uid=2, user="w"))
                ],
                relations=[
                    dict(id=77, tags={"type": "multipolygon"},
                         members=[dict(ref=900, role="outer", type=1)],
                         info=dict(version=1, user="r"))
                ],
            )
        ],
    )
    _compare_file(path)
    _compare_file(path, "osm-read-compat")


def test_non_default_granularity(tmp_path):
    path = str(tmp_path / "gran.pbf")
    write_pbf(
        path,
        [
            dict(
                nodes=[dict(id=1, lat=45.1234567, lon=-120.7654321, tags={"a": "b"})],
                granularity=1000,
                lat_offset=500,
                lon_offset=-500,
                date_granularity=2000,
            )
        ],
    )
    _compare_file(path)


def test_union_equals_per_kind_reader(spark, tmp_path):
    """read_pbf (filtered views) and read_pbf_union agree on the entity
    counts of a multi-block file."""
    from osm_read_enhanced_spark.sources.pbf import read_pbf, read_pbf_union

    path = str(tmp_path / "s.pbf")
    info = build_scale_pbf_fast(path, n_blocks=4, nodes_per_block=500, ways_per_block=50)
    u = read_pbf_union(spark, path)
    counts = {r["kind"]: r["count"] for r in u.groupBy("kind").count().collect()}
    assert counts == {"node": info["nodes"], "way": info["ways"]}
    dfs = read_pbf(spark, path)
    assert dfs["nodes"].count() == info["nodes"]
    assert dfs["ways"].count() == info["ways"]
    # spot-check a decoded way row end-to-end
    w = dfs["ways"].orderBy("id").first()
    assert len(w.refs) == 10 and w.tags["highway"] == "residential"


# --------------------------------------------------- property-based


from hypothesis import given, settings
from hypothesis import strategies as st

_tag = st.dictionaries(
    st.text(min_size=1, max_size=6), st.text(max_size=6), max_size=3
)
_node = st.tuples(
    st.integers(min_value=1, max_value=2**55),
    st.floats(min_value=-85, max_value=85, allow_nan=False, width=32),
    st.floats(min_value=-179, max_value=179, allow_nan=False, width=32),
    _tag,
    st.integers(min_value=1, max_value=2**20),       # version-ish
    st.integers(min_value=0, max_value=2**40),       # timestamp ms
)


@settings(max_examples=20, deadline=None)
@given(
    nodes=st.lists(_node, min_size=1, max_size=25, unique_by=lambda t: t[0]),
    group_size=st.integers(min_value=1, max_value=26),
    granularity=st.sampled_from([100, 1000]),
    with_way=st.booleans(),
    with_rel=st.booleans(),
)
def test_roundtrip_reproduces_input_and_oracle(
    tmp_path_factory, nodes, group_size, granularity, with_way, with_rel
):
    """Random entities (unicode tags, >2^53 ids, metadata, multi-group
    splits, non-default granularity) → write → the decoder must
    reproduce the input and agree with the oracle in both modes."""
    path = str(tmp_path_factory.mktemp("prop") / "r.pbf")
    nodes = sorted(nodes, key=lambda t: t[0])
    node_dicts = [
        dict(id=i, lat=la, lon=lo, tags=t, version=v,
             timestamp_ms=(ts // 1000) * 1000, changeset=v + 1, uid=7, user=f"u{v % 3}")
        for i, la, lo, t, v, ts in nodes
    ]
    ids = [n["id"] for n in node_dicts]
    blk = dict(nodes=node_dicts, dense_group_size=group_size, granularity=granularity)
    way_info = dict(version=2, timestamp=5, changeset=1, uid=1, user="w")
    if with_way:
        blk["ways"] = [dict(id=1, refs=ids[: max(2, len(ids) // 2)],
                            tags={"k": "v"}, info=way_info)]
    if with_rel:
        blk["relations"] = [dict(id=2, tags={"type": "multipolygon"},
                                 members=[dict(ref=ids[0], role="outer", type=0)])]
    write_pbf(path, [blk])
    payload = decode_blob(read_block_payload(scan_blocks(path)[1]))
    rows = engine_rows(payload)
    nodes_out = [r for r in rows if r["kind"] == "node"]
    assert [r["id"] for r in nodes_out] == ids
    gran_q = granularity / 1e9  # writer quantizes coords to the grid
    for r, n in zip(nodes_out, node_dicts):
        assert abs(r["lat"] - n["lat"]) <= gran_q
        assert abs(r["lon"] - n["lon"]) <= gran_q
        assert r["tags"] == list(n["tags"].items())
        assert (r["version"], r["timestamp"], r["changeset"], r["uid"], r["user"]) == (
            n["version"], n["timestamp_ms"], n["changeset"], n["uid"], n["user"]
        )
    if with_way:
        (way,) = [r for r in rows if r["kind"] == "way"]
        assert way["refs"] == blk["ways"][0]["refs"] and way["tags"] == [("k", "v")]
        assert (way["version"], way["timestamp"], way["user"]) == (2, 5000, "w")
    if with_rel:
        (rel,) = [r for r in rows if r["kind"] == "relation"]
        assert rel["members"] == [{"ref": ids[0], "role": "outer", "type": 0}]
    for mode in ("strict", "osm-read-compat"):
        assert_matches_oracle(payload, mode)


def test_columnar_kind_pruning():
    """Requesting a subset of kinds must skip the other groups' decode
    entirely (plan-level pruning carried into the Arrow path)."""
    payload = a1_block()
    only_ways = pa.Table.from_batches(
        decode_block_arrow(payload, 1, kinds=("way",))
    ).to_pydict()
    assert set(only_ways["kind"]) == {"way"}
    only_nodes = pa.Table.from_batches(
        decode_block_arrow(payload, 1, kinds=("node",))
    ).to_pydict()
    assert set(only_nodes["kind"]) == {"node"}
    assert decode_block_arrow(payload, 1, kinds=()) == []


@pytest.mark.parametrize("mode", ["strict", "osm-read-compat"])
def test_golden_blocks_match_oracle(mode):
    assert_matches_oracle(a1_block(), mode)
    assert_matches_oracle(a2_block(), mode)


# --------------------------------------------------- hand-encoded wire layouts


def _twos_varint(v: int) -> bytes:
    """A negative int64 as protobuf sends it: the LEB128 of its 64-bit
    two's complement (10 bytes), written out here by hand."""
    u, out = v + (1 << 64), bytearray()
    while u >= 0x80:
        out.append(u & 0x7F | 0x80)
        u >>= 7
    return bytes(out + bytes([u]))


def _block(strings, *groups, extra=b""):
    table = b"".join(encode_len_field(1, s.encode()) for s in strings)
    return (
        encode_len_field(1, table)
        + b"".join(encode_len_field(2, g) for g in groups)
        + extra
    )


def test_negative_way_and_relation_ids():
    """Way and relation ids are int64: -5 arrives as a 10-byte varint
    and must decode to -5 (it used to overflow the whole block), like
    Info.uid = -1."""
    assert _twos_varint(-5) == b"\xfb" + b"\xff" * 8 + b"\x01"
    info = b"\x20" + _twos_varint(-1)  # Info.uid (field 4, varint)
    way = b"\x08" + _twos_varint(-5) + encode_len_field(4, info)
    relation = b"\x08" + _twos_varint(-5)
    payload = _block(
        [""], encode_len_field(3, way) + encode_len_field(4, relation)
    )
    rows = engine_rows(payload)
    assert [(r["kind"], r["id"]) for r in rows] == [("way", -5), ("relation", -5)]
    assert rows[0]["uid"] == -1 and rows[1]["uid"] is None
    assert_matches_oracle(payload)


def _msg(fno, *fields):
    return encode_len_field(fno, b"".join(fields))


def _vs(fno, *vals):
    """Repeated (unpacked) varints."""
    return b"".join(encode_varint_field(fno, v) for v in vals)


def _zs(fno, *vals):
    """Repeated (unpacked) sint64 varints."""
    return _vs(fno, *(zigzag_encode(v) for v in vals))


def _pz(fno, *vals):
    """Packed sint64 values, each small enough for one byte."""
    return encode_len_field(fno, bytes(zigzag_encode(v) for v in vals))


def _pu(fno, *vals):
    """Packed uint values below 128."""
    return encode_len_field(fno, bytes(vals))


def _plain_and_repeated_block():
    """Plain (non-dense) nodes beside a dense group, keys/vals/refs/
    members as repeated varints, a packed field alongside a repeated one
    (packed wins), Info with visible=false, uneven parallel arrays, and
    non-default granularity, date granularity and offsets.
    Strings: 1 "k", 2 "v", 3 "u"."""
    info = _msg(4, _vs(1, 4), _vs(2, 77), _vs(5, 3), _vs(6, 0))
    plain = (
        _msg(1, _zs(1, -9), _vs(2, 1), _vs(3, 2), info, _zs(8, -1234), _zs(9, 5678))
        # no id; keys [k, u] but vals [v]: one tag
        + _msg(1, _vs(2, 1, 3), _vs(3, 2), _zs(8, 10))
        # an Info holding only a changeset
        + _msg(1, _zs(1, 44), _msg(4, _vs(3, 12)))
    )
    dense = _msg(2, _pz(1, 5, 1), _pz(8, 1, 1), _pz(9, 2, 2), _pu(10, 1, 2, 0, 0))
    ways = (
        _msg(3, _vs(1, 31), _vs(2, 1, 3), _vs(3, 2, 1), _zs(8, 100, -3), info)
        # the packed refs win over the repeated one
        + _msg(3, _vs(1, 32), _pu(2, 1, 3, 2), _pu(3, 2, 2), _pz(8, 7, 1, 1), _zs(8, 99))
    )
    relations = (
        # three roles, two memids, three types: two members
        _msg(4, _vs(1, 41), _vs(2, 3), _vs(3, 1), _msg(4, _vs(3, 12)),
             _pu(8, 1, 2, 3), _pz(9, 31, 1), _pu(10, 1, 1, 2))
        + _msg(4, _vs(1, 42), _vs(8, 1), _zs(9, 5), _vs(10, 0))
    )
    properties = _vs(17, 1000) + _vs(18, 10) + _zs(19, 300) + _zs(20, -300)
    return _block(["", "k", "v", "u"], plain + dense, ways, relations, extra=properties)


@pytest.mark.parametrize("mode", ["strict", "osm-read-compat"])
def test_plain_nodes_and_repeated_fields(mode):
    payload = _plain_and_repeated_block()
    assert_matches_oracle(payload, mode)
    if mode != "strict":
        return
    rows = engine_rows(payload)
    # dense nodes of a group come first, then its plain nodes
    assert [r["id"] for r in rows if r["kind"] == "node"] == [5, 6, -9, 0, 44]
    plain = rows[2]
    assert plain["lat"] == (300 + 1000 * -1234) / 1e9
    assert plain["tags"] == [("k", "v")]
    assert (plain["version"], plain["timestamp"], plain["user"], plain["visible"]) == (
        4, 770, "u", False
    )
    assert rows[3]["tags"] == [("k", "v")] and rows[3]["visible"] is None
    assert (rows[4]["changeset"], rows[4]["version"], rows[4]["visible"]) == (12, None, True)
    w31, w32 = rows[5], rows[6]
    assert w31["refs"] == [100, 97] and w31["tags"] == [("k", "v"), ("u", "k")]
    assert w32["refs"] == [7, 8, 9] and w32["tags"] == [("k", "v"), ("u", "v")]
    r41, r42 = rows[7], rows[8]
    assert r41["tags"] == [("u", "k")] and r41["changeset"] == 12
    assert r41["members"] == [
        {"ref": 31, "role": "k", "type": 1}, {"ref": 32, "role": "v", "type": 1}
    ]
    assert r42["members"] == [{"ref": 5, "role": "k", "type": 0}]
