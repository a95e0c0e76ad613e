"""Differential decode testing — the reference repo's own validation
strategy (compare-parsers.js:31-150 runs its custom parser against
protobufjs side-by-side and lists discrepancies; SURVEY.md §5.1).

Here: an INDEPENDENT minimal PBF decoder (written against the wire
format from scratch, sharing no code with sources/pbf) is the oracle
for the engine's one entity decoder, ``columnar.decode_block_arrow``.
It returns the rows the engine's union batches must hold, field for
field, in both decode modes.
"""

import os

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_read_enhanced_spark.fixtures import build_pitcairn_like
from osm_read_enhanced_spark.sources.pbf import decode_blob, scan_blocks, write_pbf
from osm_read_enhanced_spark.sources.pbf.blocks import read_block_payload
from osm_read_enhanced_spark.sources.pbf.columnar import (
    UNION_ARROW_SCHEMA,
    decode_block_arrow,
)

from conftest import REFERENCE_DIR

# ---------------------------------------------------------------- an
# independent reference decoder: list-of-fields TLV walk, python ints
# only, one entity at a time. Deliberately different implementation
# style from proto.py / columnar.py.

META = ("version", "timestamp", "changeset", "uid", "user", "visible")


def _rv(b, i):
    r = s = 0
    while True:
        r |= (b[i] & 0x7F) << s
        i += 1
        if b[i - 1] < 0x80:
            return r, i
        s += 7


def _fields(b, lo, hi):
    """→ [(field, wire type, value)]; value is an int for varints, the
    (start, end) payload span for length-delimited fields."""
    out = []
    i = lo
    while i < hi:
        tag, i = _rv(b, i)
        f, w = tag >> 3, tag & 7
        if w == 0:
            v, i = _rv(b, i)
            out.append((f, w, v))
        elif w == 2:
            ln, i = _rv(b, i)
            out.append((f, w, (i, i + ln)))
            i += ln
        elif w == 5:
            out.append((f, w, b[i : i + 4]))
            i += 4
        elif w == 1:
            out.append((f, w, b[i : i + 8]))
            i += 8
        else:
            raise ValueError(w)
    return out


def _zz(v):
    return (v >> 1) ^ -(v & 1)


def _int64(v):
    """int64/int32 fields travel as the 64-bit two's complement."""
    return v - (1 << 64) if v >= 1 << 63 else v


def _packed(b, span):
    vals = []
    i, hi = span
    while i < hi:
        v, i = _rv(b, i)
        vals.append(v)
    return vals


def _all_packed(b, fields, f):
    return [v for ff, w, span in fields if ff == f and w == 2 for v in _packed(b, span)]


def _repeated(b, fields, f):
    """Packed runs when the message has any, else the varint occurrences."""
    packed = _all_packed(b, fields, f)
    if packed or any(ff == f and w == 2 for ff, w, _ in fields):
        return packed
    return [v for ff, w, v in fields if ff == f and w == 0]


def _last(fields, f, default=None):
    """Scalar field: the last occurrence wins."""
    vals = [v for ff, w, v in fields if ff == f and w == 0]
    return vals[-1] if vals else default


def _running(deltas):
    out, acc = [], 0
    for d in deltas:
        acc += d
        out.append(acc)
    return out


def _info(b, fields, date_gran, lookup):
    """Info sub-messages (field 4) → the six metadata columns; no Info →
    all null. Repeated occurrences merge as protobuf merges a message
    field: their fields concatenate, so each scalar's last one wins."""
    spans = [v for ff, w, v in fields if ff == 4 and w == 2]
    if not spans:
        return dict.fromkeys(META)
    info = [f for span in spans for f in _fields(b, *span)]
    version, ts, cs, uid, usid, vis = (_last(info, f) for f in range(1, 7))
    return dict(
        version=None if version is None else _int64(version),
        timestamp=None if ts is None else _int64(ts) * date_gran,
        changeset=None if cs is None else _int64(cs),
        uid=None if uid is None else _int64(uid),
        user=None if usid is None else lookup(usid),
        visible=True if vis is None else bool(vis),
    )


def _tags(b, fields, lookup, compat):
    if compat:  # OSM_Blob packed-keys bug: no way/relation/node tags
        return []
    keys, vals = _repeated(b, fields, 2), _repeated(b, fields, 3)
    return [(lookup(k), lookup(v)) for k, v in zip(keys, vals)]


def _kv_runs(kv, n):
    """Dense keys_vals ((k v)* 0)* → n lists of (k, v) index pairs; a
    missing trailing value reads index 0."""
    runs, cur, i = [], [], 0
    while i < len(kv) and len(runs) < n:
        if kv[i] == 0:
            runs.append(cur)
            cur = []
            i += 1
        else:
            cur.append((kv[i], kv[i + 1] if i + 1 < len(kv) else 0))
            i += 2
    if cur and len(runs) < n:
        runs.append(cur)
    return runs + [[] for _ in range(n - len(runs))]


def _dense_rows(b, span, blk, lookup):
    d = _fields(b, *span)
    ids = _running(_zz(v) for v in _all_packed(b, d, 1))
    lats = _running(_zz(v) for v in _all_packed(b, d, 8))
    lons = _running(_zz(v) for v in _all_packed(b, d, 9))
    n = len(ids)
    runs = _kv_runs(_all_packed(b, d, 10), n)
    meta = [dict.fromkeys(META) for _ in range(n)]
    info_spans = [v for ff, w, v in d if ff == 5 and w == 2]
    if info_spans:
        # repeated DenseInfo occurrences merge: packed runs concatenate
        di = [f for span in info_spans for f in _fields(b, *span)]

        def delta_coded(f):
            return _running(_zz(v) for v in _all_packed(b, di, f))

        cols = {
            "version": [_int64(v) for v in _all_packed(b, di, 1)] or None,
            "timestamp": [t * blk["date_gran"] for t in delta_coded(2)] or None,
            "changeset": delta_coded(3) or None,
            "uid": delta_coded(4) or None,
            "user": [lookup(s) for s in delta_coded(5)] or None,
            "visible": [bool(v) for v in _all_packed(b, di, 6)] or [True] * n,
        }
        meta = [{k: (None if c is None else c[j]) for k, c in cols.items()} for j in range(n)]
    return [
        dict(
            kind="node",
            id=ids[j],
            lat=(blk["lat_off"] + blk["gran"] * lats[j]) / 1e9,
            lon=(blk["lon_off"] + blk["gran"] * lons[j]) / 1e9,
            tags=[(lookup(k), lookup(v)) for k, v in runs[j]],
            refs=None,
            members=None,
            **meta[j],
        )
        for j in range(n)
    ]


def _plain_node_row(b, span, blk, lookup, compat):
    f = _fields(b, *span)
    return dict(
        kind="node",
        id=_zz(_last(f, 1, 0)),
        lat=(blk["lat_off"] + blk["gran"] * _zz(_last(f, 8, 0))) / 1e9,
        lon=(blk["lon_off"] + blk["gran"] * _zz(_last(f, 9, 0))) / 1e9,
        tags=_tags(b, f, lookup, compat),
        refs=None,
        members=None,
        **_info(b, f, blk["date_gran"], lookup),
    )


def _way_row(b, span, blk, lookup, compat):
    f = _fields(b, *span)
    return dict(
        kind="way",
        id=_int64(_last(f, 1, 0)),
        lat=None,
        lon=None,
        tags=_tags(b, f, lookup, compat),
        refs=_running(_zz(v) for v in _repeated(b, f, 8)),
        members=None,
        **_info(b, f, blk["date_gran"], lookup),
    )


def _relation_row(b, span, blk, lookup, compat):
    f = _fields(b, *span)
    roles = _repeated(b, f, 8)
    memids = _running(_zz(v) for v in _repeated(b, f, 9))
    types = _repeated(b, f, 10)
    return dict(
        kind="relation",
        id=_int64(_last(f, 1, 0)),
        lat=None,
        lon=None,
        tags=_tags(b, f, lookup, compat),
        refs=None,
        members=[
            {"ref": m, "role": lookup(r), "type": t} for r, m, t in zip(roles, memids, types)
        ],
        **_info(b, f, blk["date_gran"], lookup),
    )


def independent_decode(payload: bytes, mode: str = "strict") -> list[dict]:
    """One PrimitiveBlock → the union rows (without ``block_id``): all
    nodes, then all ways, then all relations, in wire order. Within a
    group, dense nodes come before plain ones. ``osm-read-compat``
    resolves every string index one entry late (table seeded with an
    extra "") and drops plain-node/way/relation tags."""
    fields = _fields(payload, 0, len(payload))
    blk = dict(gran=100, date_gran=1000, lat_off=0, lon_off=0)
    strings = []
    for f, _, v in fields:
        if f == 1:
            strings = [
                payload[a:z].decode("utf-8")
                for ff, _, (a, z) in _fields(payload, *v)
                if ff == 1
            ]
        elif f == 17:
            blk["gran"] = v
        elif f == 18:
            blk["date_gran"] = v
        elif f == 19:  # int64 in osmformat.proto, not sint64
            blk["lat_off"] = _int64(v)
        elif f == 20:
            blk["lon_off"] = _int64(v)
    compat = mode == "osm-read-compat"
    table = [""] + strings if compat else strings

    def lookup(i):
        return table[i] if 0 <= i < len(table) else ""

    nodes, ways, relations = [], [], []
    for f, _, v in fields:
        if f != 2:
            continue
        dense, plain = [], []
        for gf, gw, gv in _fields(payload, *v):
            if gw != 2:
                continue
            if gf == 1:
                plain.append(_plain_node_row(payload, gv, blk, lookup, compat))
            elif gf == 2:
                dense += _dense_rows(payload, gv, blk, lookup)
            elif gf == 3:
                ways.append(_way_row(payload, gv, blk, lookup, compat))
            elif gf == 4:
                relations.append(_relation_row(payload, gv, blk, lookup, compat))
        nodes += dense + plain
    return nodes + ways + relations


def reference_file(path: str, twin: str):
    """Skip a test of the reference's own ``path`` where that file is
    absent; its hand-encoded ``twin`` checks the same golden values."""
    return pytest.mark.skipif(not os.path.exists(path), reason=f"{path} absent; twin: {twin}")


def engine_rows(
    payload: bytes, mode: str = "strict", kinds=("node", "way", "relation")
) -> list[dict]:
    """``decode_block_arrow`` output as union rows without ``block_id``."""
    batches = decode_block_arrow(payload, 7, mode=mode, kinds=kinds)
    rows = pa.Table.from_batches(batches, schema=UNION_ARROW_SCHEMA).to_pylist()
    assert all(r.pop("block_id") == 7 for r in rows)
    return rows


def assert_matches_oracle(payload: bytes, mode: str = "strict"):
    assert engine_rows(payload, mode) == independent_decode(payload, mode)


# ---------------------------------------------------------------- tests

tag_strat = st.dictionaries(
    st.text(min_size=1, max_size=8), st.text(max_size=8), max_size=3
)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=2**55),
            st.floats(min_value=-85, max_value=85, allow_nan=False),
            st.floats(min_value=-179, max_value=179, allow_nan=False),
            tag_strat,
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_random_nodes_agree(tmp_path_factory, node_specs):
    path = str(tmp_path_factory.mktemp("diff") / "r.pbf")
    node_specs = sorted(node_specs, key=lambda t: t[0])  # delta-friendly ids
    nodes = [dict(id=i, lat=la, lon=lo, tags=t) for i, la, lo, t in node_specs]
    write_pbf(path, [dict(nodes=nodes)])
    payload = decode_blob(read_block_payload(scan_blocks(path)[1]))
    other = independent_decode(payload)
    assert [r["id"] for r in other] == [n["id"] for n in nodes]
    for mode in ("strict", "osm-read-compat"):
        assert_matches_oracle(payload, mode)


def test_pitcairn_like_agrees(tmp_path):
    path = str(tmp_path / "p.pbf")
    build_pitcairn_like(path)
    for meta in scan_blocks(path):
        if meta.block_type != "OSMData":
            continue
        payload = decode_blob(read_block_payload(meta))
        for mode in ("strict", "osm-read-compat"):
            assert_matches_oracle(payload, mode)


REF_PBF = os.path.join(REFERENCE_DIR, "test", "test.pbf")


@reference_file(REF_PBF, twin="test_columnar_decode::test_golden_blocks_match_oracle")
def test_reference_fixture_agrees():
    payload = decode_blob(read_block_payload(scan_blocks(REF_PBF)[1]))
    assert_matches_oracle(payload)
