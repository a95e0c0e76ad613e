"""Golden decode tests: FIXTURES.md §A1/§A2.

Goldens come from FIXTURES.md — produced by executing the reference's
own decoder (reference lib/OSM_Blob.js) and an independent raw-wire
parse. Counts/coordinates/refs/members are invariant across all
reference parse paths; tags have strict vs osm-read-compat variants
(SURVEY.md §5.3 policy).

The §A1 and §A2 OSMData blocks are hand-encoded here from their
documented wire contents, so the goldens run on any host. The
reference's own files are checked too where they are present.
"""

import pytest

from osm_read_enhanced_spark.sources.pbf import (
    decode_blob,
    decode_header_block,
    scan_blocks,
)
from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload
from osm_read_enhanced_spark.sources.pbf.columnar import _scan_block, _string_table_arrow
from osm_read_enhanced_spark.sources.pbf.proto import (
    encode_len_field,
    encode_packed_svarints,
    encode_packed_uvarints,
    encode_varint_field,
)

# sibling test module: the decoder's output as rows
from test_differential import engine_rows as _rows

TEST_PBF = "/root/reference/test/test.pbf"
MANY_NODES_PBF = "/root/reference/test/manyNodes.pbf"

GOLDEN_NODES = [
    (319408586, 51.5074089, -0.1080108),
    (319408587, 51.5074343, -0.1081264),
    (275452090, 51.5075933, -0.1076186),
    (304994980, 51.5074645, -0.1075735),
    (304994981, 51.5074723, -0.1075014),
    (304994979, 51.5074060, -0.1083348),
]

# §A1 string table in wire order: indices 0 AND 1 are both ""
A1_STRINGS = [
    "", "", "smsm1", "Matt", "name", "route", "bus", "type", "barrier", "123",
    "gate", "cafe", "VVW", "highway", "nickb", "network", "private",
    "Jam's Sandwich Bar", "kmvar", "jamicu", "amenity", "access", "BiIbo",
    "ref", "service", "üßé€",
]
WAY_REFS = [304994979, 319408587, 319408586, 304994980, 304994981]


def _string_table(strings) -> bytes:
    # encoded entry by entry: a deduplicating table could not hold the
    # two "" entries
    return encode_len_field(
        1, b"".join(encode_len_field(1, s.encode("utf-8")) for s in strings)
    )


def _deltas(vals):
    return [b - a for a, b in zip([0] + vals[:-1], vals)]


def _info(version, timestamp_s, changeset, uid, user_sid) -> bytes:
    return (
        encode_varint_field(1, version)
        + encode_varint_field(2, timestamp_s)
        + encode_varint_field(3, changeset)
        + encode_varint_field(4, uid)
        + encode_varint_field(5, user_sid)
    )


def a1_block() -> bytes:
    """The §A1 OSMData block (test/test.pbf) from its documented wire
    values: 6 dense nodes, way 27776903, relation 56688."""
    lat_raw = [round(lat * 1e7) for _, lat, _ in GOLDEN_NODES]
    lon_raw = [round(lon * 1e7) for _, _, lon in GOLDEN_NODES]
    dense = (
        encode_len_field(1, encode_packed_svarints([319408586, 1, -43956497, 29542890, 1, -2]))
        + encode_len_field(8, encode_packed_svarints(_deltas(lat_raw)))
        + encode_len_field(9, encode_packed_svarints(_deltas(lon_raw)))
        + encode_len_field(10, encode_packed_uvarints([0, 0, 4, 17, 20, 11, 0, 8, 10, 0, 0, 0]))
    )
    way = (
        encode_varint_field(1, 27776903)
        + encode_len_field(2, encode_packed_uvarints([21, 13, 4]))
        + encode_len_field(3, encode_packed_uvarints([16, 24, 25]))
        + encode_len_field(4, _info(3, 1243777155, 1368552, 70, 3))
        + encode_len_field(8, encode_packed_svarints([304994979, 14413608, -1, -14413606, 1]))
    )
    relation = (
        encode_varint_field(1, 56688)
        + encode_len_field(2, encode_packed_uvarints([15, 23, 5, 7]))
        + encode_len_field(3, encode_packed_uvarints([12, 9, 6, 5]))
        + encode_len_field(4, _info(28, 1294842229, 6947637, 56190, 18))
        + encode_len_field(8, encode_packed_uvarints([1, 1]))
        + encode_len_field(9, encode_packed_svarints([319408586, -291631683]))
        + encode_len_field(10, encode_packed_uvarints([0, 1]))
    )
    return (
        _string_table(A1_STRINGS)
        + encode_len_field(2, encode_len_field(2, dense))
        + encode_len_field(2, encode_len_field(3, way))
        + encode_len_field(2, encode_len_field(4, relation))
    )


def a2_block() -> bytes:
    """The §A2 OSMData block (test/manyNodes.pbf): 3000 untagged dense
    nodes at (0, 0), ids 1..3000, string table ["", "x"], DenseInfo
    version=1 changeset=1 uid=1 user="x" at 2008-12-17T01:18:42Z, and
    explicit granularity/date_granularity."""
    n = 3000
    same = [0] * (n - 1)  # delta-coded: every node repeats the first value
    dense_info = (
        encode_len_field(1, encode_packed_uvarints([1] * n))
        + encode_len_field(2, encode_packed_svarints([1229476722] + same))
        + encode_len_field(3, encode_packed_svarints([1] + same))
        + encode_len_field(4, encode_packed_svarints([1] + same))
        + encode_len_field(5, encode_packed_svarints([1] + same))
    )
    dense = (
        encode_len_field(1, encode_packed_svarints([1] * n))
        + encode_len_field(5, dense_info)
        + encode_len_field(8, encode_packed_svarints([0] * n))
        + encode_len_field(9, encode_packed_svarints([0] * n))
    )
    return (
        _string_table(["", "x"])
        + encode_len_field(2, encode_len_field(2, dense))
        + encode_varint_field(17, 100)
        + encode_varint_field(18, 1000)
    )


def _kind(rows, kind):
    return [r for r in rows if r["kind"] == kind]


def _node_tags(rows):
    return {r["id"]: dict(r["tags"]) for r in _kind(rows, "node")}


def _strings(payload):
    table, _ = _string_table_arrow(payload, *_scan_block(payload)[0], "strict")
    return table.to_pylist()[:-1]  # drop the trailing out-of-range slot


# ------------------------------------------------- golden assertions


def _assert_a1_strings(payload):
    strings = _strings(payload)
    assert len(strings) == 26
    assert strings[0] == "" and strings[1] == ""
    assert strings[4] == "name" and strings[25] == "üßé€"


def _assert_a1_counts(rows):
    assert [len(_kind(rows, k)) for k in ("node", "way", "relation")] == [6, 1, 1]


def _assert_a1_nodes(rows):
    nodes = _kind(rows, "node")
    for r, (nid, lat, lon) in zip(nodes, GOLDEN_NODES):
        assert r["id"] == nid
        assert abs(r["lat"] - lat) < 5e-8
        assert abs(r["lon"] - lon) < 5e-8


def _assert_a1_node_tags_strict(rows):
    tags = _node_tags(rows)
    assert tags[275452090] == {"name": "Jam's Sandwich Bar", "amenity": "cafe"}
    assert tags[304994980] == {"barrier": "gate"}
    for nid in (319408586, 319408587, 304994981, 304994979):
        assert tags[nid] == {}


def _assert_a1_node_tags_compat(rows):
    # reference OSM_Blob string-cache off-by-one (lib/OSM_Blob.js:360-367)
    tags = _node_tags(rows)
    assert tags[275452090] == {"Matt": "private", "jamicu": "gate"}
    assert tags[304994980] == {"type": "123"}


def _assert_a1_way(rows):
    (way,) = _kind(rows, "way")
    assert way["id"] == 27776903
    assert way["refs"] == WAY_REFS
    assert dict(way["tags"]) == {"access": "private", "highway": "service", "name": "üßé€"}
    assert way["version"] == 3
    assert way["timestamp"] == 1243777155000
    assert way["changeset"] == 1368552
    assert way["uid"] == 70
    assert way["user"] == "Matt"


def _assert_a1_way_compat(rows):
    # OSM_Blob lazy path packed-keys bug → {} (lib/OSM_Blob.js:1328)
    (way,) = _kind(rows, "way")
    assert way["tags"] == []
    assert way["refs"] == WAY_REFS


def _assert_a1_relation(rows):
    (rel,) = _kind(rows, "relation")
    assert rel["id"] == 56688
    assert dict(rel["tags"]) == {"network": "VVW", "ref": "123", "route": "bus", "type": "route"}
    # member order preserved (reference ChangeLog:1-27)
    assert rel["members"] == [
        {"ref": 319408586, "role": "", "type": 0},
        {"ref": 27776903, "role": "", "type": 1},
    ]
    assert rel["user"] == "kmvar" and rel["uid"] == 56190


def _assert_a2(payload):
    assert _strings(payload) == ["", "x"]
    nodes = _rows(payload)
    assert len(nodes) == 3000  # reference test/manyNodesTest.js:30-32
    assert [r["id"] for r in nodes] == list(range(1, 3001))
    assert all(r["lat"] == 0.0 and r["lon"] == 0.0 for r in nodes)
    assert all(r["tags"] == [] for r in nodes)
    assert nodes[0]["user"] == "x"
    assert nodes[0]["timestamp"] == 1229476722000


# ------------------------------------------------- hand-encoded blocks


def test_encoded_a1_strict():
    payload = a1_block()
    rows = _rows(payload)
    _assert_a1_strings(payload)
    _assert_a1_counts(rows)
    _assert_a1_nodes(rows)
    _assert_a1_node_tags_strict(rows)
    _assert_a1_way(rows)
    _assert_a1_relation(rows)


def test_encoded_a1_compat():
    rows = _rows(a1_block(), mode="osm-read-compat")
    # counts, ids, coordinates and refs are identical across parse paths
    _assert_a1_counts(rows)
    _assert_a1_nodes(rows)
    _assert_a1_node_tags_compat(rows)
    _assert_a1_way_compat(rows)
    assert _kind(rows, "relation")[0]["tags"] == []


def test_encoded_a2():
    payload = a2_block()
    assert len(payload) == 24_053  # the documented inflated block size
    _assert_a2(payload)
    nodes = _rows(payload)
    assert {(r["version"], r["changeset"], r["uid"], r["user"], r["visible"]) for r in nodes} == {
        (1, 1, 1, "x", True)
    }
    assert {r["timestamp"] for r in nodes} == {1229476722000}


# ------------------------------------------------- reference files


@pytest.fixture(scope="module")
def test_block():
    blocks = scan_blocks(TEST_PBF)
    return decode_blob(read_block_payload(blocks[1]))


def test_block_index_framing():
    blocks = scan_blocks(TEST_PBF)
    assert [b.block_type for b in blocks] == ["OSMHeader", "OSMData"]
    assert blocks[1].size == 476


def test_header_block():
    blocks = scan_blocks(TEST_PBF)
    hdr = decode_header_block(decode_blob(read_block_payload(blocks[0])))
    assert hdr["required_features"] == ["OsmSchema-V0.6", "DenseNodes"]
    assert hdr["writingprogram"] == "0.40.1"


def test_string_table(test_block):
    _assert_a1_strings(test_block)


def test_counts_invariant(test_block):
    _assert_a1_counts(_rows(test_block))


def test_node_ids_and_coordinates(test_block):
    _assert_a1_nodes(_rows(test_block))


def test_node_tags_strict(test_block):
    _assert_a1_node_tags_strict(_rows(test_block))


def test_node_tags_compat(test_block):
    _assert_a1_node_tags_compat(_rows(test_block, mode="osm-read-compat"))


def test_way_golden(test_block):
    _assert_a1_way(_rows(test_block))


def test_way_compat_tags_empty(test_block):
    _assert_a1_way_compat(_rows(test_block, mode="osm-read-compat"))


def test_relation_golden(test_block):
    _assert_a1_relation(_rows(test_block))


def test_many_nodes_golden():
    blocks = scan_blocks(MANY_NODES_PBF)
    _assert_a2(decode_blob(read_block_payload(blocks[1])))


def test_kind_pruning(test_block):
    assert [r["kind"] for r in _rows(test_block, kinds=("way",))] == ["way"]


def test_decompress_capability_surface():
    """Round-4 parity hook: the decompress layer recognizes every codec
    the reference's zlib wrapper supports. zlib works; zstd/lz4/brotli
    import-gate with a clear NotImplementedError when absent (none ship
    here); if a module IS present the real path runs."""
    import importlib.util
    import zlib as _z

    import pytest

    from osm_read_enhanced_spark.sources.pbf.decode import decompress

    assert decompress("zlib", _z.compress(b"payload")) == b"payload"
    for codec, mod in (("zstd", "zstandard"), ("lz4", "lz4"), ("brotli", "brotli")):
        if importlib.util.find_spec(mod) is None:
            with pytest.raises(NotImplementedError, match=codec):
                decompress(codec, b"x")
    if importlib.util.find_spec("brotli") is not None:  # pragma: no cover
        import brotli

        assert decompress("brotli", brotli.compress(b"payload")) == b"payload"
    with pytest.raises(NotImplementedError, match="unsupported"):
        decompress("snappy", b"x")
