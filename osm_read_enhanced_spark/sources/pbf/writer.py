"""Deterministic OSM PBF writer (fixture generator + round-trip tests).

Mirrors the wire format the decoder reads (SURVEY.md §1): string-table
dictionary (index 0 reserved ""), DenseNodes with delta+ZigZag packed
arrays, ways/relations with packed keys/vals/refs/memids, zlib blobs,
4-byte BE FileBlock framing. Modeled on the reference's fixture
generator approach (test/genManyNodes.sh — deterministic XML → osmosis);
here we write the binary directly so fixtures need no external tools.
"""

from __future__ import annotations

import zlib

import numpy as np

from .proto import (
    encode_len_field,
    encode_packed_svarints,
    encode_packed_uvarints,
    encode_varint_field,
    zigzag_encode,
)


class _StringTable:
    def __init__(self):
        self.strings = [""]
        self.index = {"": 0}

    def add(self, s: str) -> int:
        if s not in self.index:
            self.index[s] = len(self.strings)
            self.strings.append(s)
        return self.index[s]

    def encode(self) -> bytes:
        payload = b"".join(encode_len_field(1, s.encode("utf-8")) for s in self.strings)
        return encode_len_field(1, payload)


def _delta(vals):
    prev = 0
    out = []
    for v in vals:
        out.append(v - prev)
        prev = v
    return out


def _encode_info(info: dict, st: _StringTable) -> bytes:
    out = b""
    if info.get("version") is not None:
        out += encode_varint_field(1, info["version"])
    if info.get("timestamp") is not None:
        out += encode_varint_field(2, info["timestamp"])  # already in date-granularity units
    if info.get("changeset") is not None:
        out += encode_varint_field(3, info["changeset"])
    if info.get("uid") is not None:
        out += encode_varint_field(4, info["uid"])
    if info.get("user") is not None:
        out += encode_varint_field(5, st.add(info["user"]))
    return out


def encode_dense_nodes(nodes: list[dict], st: _StringTable, with_info: bool = True) -> bytes:
    """nodes: [{id, lat_nano, lon_nano, tags, version?, timestamp_s?,
    changeset?, uid?, user?}] — lat/lon in raw units (granularity applied
    by the block scalars)."""
    ids = _delta([n["id"] for n in nodes])
    lats = _delta([n["lat_raw"] for n in nodes])
    lons = _delta([n["lon_raw"] for n in nodes])
    kv = []
    for n in nodes:
        for k, v in n.get("tags", {}).items():
            kv.append(st.add(k))
            kv.append(st.add(v))
        kv.append(0)
    body = encode_len_field(1, encode_packed_svarints(ids))
    if with_info and any("version" in n for n in nodes):
        di = encode_len_field(1, encode_packed_uvarints([n.get("version", 1) for n in nodes]))
        di += encode_len_field(
            2, encode_packed_svarints(_delta([n.get("timestamp_units", 0) for n in nodes]))
        )
        di += encode_len_field(
            3, encode_packed_svarints(_delta([n.get("changeset", 0) for n in nodes]))
        )
        di += encode_len_field(4, encode_packed_svarints(_delta([n.get("uid", 0) for n in nodes])))
        di += encode_len_field(
            5, encode_packed_svarints(_delta([st.add(n.get("user", "")) for n in nodes]))
        )
        body += encode_len_field(5, di)
    body += encode_len_field(8, encode_packed_svarints(lats))
    body += encode_len_field(9, encode_packed_svarints(lons))
    body += encode_len_field(10, encode_packed_uvarints(kv))
    return encode_len_field(2, body)  # PrimitiveGroup.dense


def encode_dense_nodes_from_arrays(
    ids, lat_raw, lon_raw, keys_vals=None
) -> bytes:
    """Columnar DenseNodes encode: numpy id/coord arrays (absolute
    values; delta computed here via np.diff) + an already-flattened
    keys_vals index array (0-terminated runs, indices into the caller's
    string table). The vectorized writer twin of columnar decode — used
    by array-scale fixture generation and available to tag-free/array
    producers (the general sink keeps the row path: per-block string
    tables for tags/metadata are dict-shaped by nature).
    """
    ids = np.asarray(ids, dtype=np.int64)
    lat_raw = np.asarray(lat_raw, dtype=np.int64)
    lon_raw = np.asarray(lon_raw, dtype=np.int64)

    def deltas(a):
        d = np.empty(len(a), dtype=np.int64)
        if len(a):
            d[0] = a[0]
            np.subtract(a[1:], a[:-1], out=d[1:])
        return d

    body = encode_len_field(1, encode_packed_svarints(deltas(ids)))
    body += encode_len_field(8, encode_packed_svarints(deltas(lat_raw)))
    body += encode_len_field(9, encode_packed_svarints(deltas(lon_raw)))
    if keys_vals is None:
        keys_vals = np.zeros(len(ids), dtype=np.int64)  # no tags: one 0/node
    body += encode_len_field(10, encode_packed_uvarints(np.asarray(keys_vals)))
    return encode_len_field(2, body)  # PrimitiveGroup.dense


def encode_way(way: dict, st: _StringTable) -> bytes:
    body = encode_varint_field(1, way["id"])
    keys = [st.add(k) for k in way.get("tags", {})]
    vals = [st.add(v) for v in way.get("tags", {}).values()]
    if keys:
        body += encode_len_field(2, encode_packed_uvarints(keys))
        body += encode_len_field(3, encode_packed_uvarints(vals))
    if way.get("info"):
        body += encode_len_field(4, _encode_info(way["info"], st))
    body += encode_len_field(8, encode_packed_svarints(_delta(way.get("refs", []))))
    return encode_len_field(3, body)  # PrimitiveGroup.ways


def encode_relation(rel: dict, st: _StringTable) -> bytes:
    body = encode_varint_field(1, rel["id"])
    keys = [st.add(k) for k in rel.get("tags", {})]
    vals = [st.add(v) for v in rel.get("tags", {}).values()]
    if keys:
        body += encode_len_field(2, encode_packed_uvarints(keys))
        body += encode_len_field(3, encode_packed_uvarints(vals))
    if rel.get("info"):
        body += encode_len_field(4, _encode_info(rel["info"], st))
    members = rel.get("members", [])
    if members:
        body += encode_len_field(8, encode_packed_uvarints([st.add(m["role"]) for m in members]))
        body += encode_len_field(
            9, encode_packed_svarints(_delta([m["ref"] for m in members]))
        )
        body += encode_len_field(10, encode_packed_uvarints([m["type"] for m in members]))
    return encode_len_field(4, body)  # PrimitiveGroup.relations


def _frame_block(block_type: str, payload: bytes, compress: bool = True) -> bytes:
    if compress:
        z = zlib.compress(payload)
        blob = encode_varint_field(2, len(payload)) + encode_len_field(3, z)
    else:
        blob = encode_len_field(1, payload) + encode_varint_field(2, len(payload))
    header = encode_len_field(1, block_type.encode()) + encode_varint_field(3, len(blob))
    return len(header).to_bytes(4, "big") + header + blob


def build_primitive_block(
    nodes, ways, relations, granularity, lat_offset, lon_offset, date_granularity,
    dense_group_size: int | None = None, changeset_ids=(),
) -> bytes:
    """``dense_group_size``: split dense nodes into several DenseNodes
    groups of at most this many nodes (a legal layout real encoders can
    emit — exercises the multi-group merge path). ``changeset_ids``:
    emit one ChangeSet message per id (PrimitiveGroup field 5)."""
    st = _StringTable()
    group_payloads = []
    if nodes:
        prepared = []
        for n in nodes:
            m = dict(n)
            m["lat_raw"] = round((n["lat"] * 1e9 - lat_offset) / granularity)
            m["lon_raw"] = round((n["lon"] * 1e9 - lon_offset) / granularity)
            if "timestamp_ms" in n:
                m["timestamp_units"] = n["timestamp_ms"] // date_granularity
            prepared.append(m)
        gsz = dense_group_size or len(prepared)
        for i in range(0, len(prepared), gsz):
            chunk = prepared[i : i + gsz]
            group_payloads.append(
                encode_dense_nodes(chunk, st, with_info=any("version" in n for n in chunk))
            )
    if ways:
        group_payloads.append(b"".join(encode_way(w, st) for w in ways))
    if relations:
        group_payloads.append(b"".join(encode_relation(r, st) for r in relations))
    if changeset_ids:
        group_payloads.append(
            b"".join(
                encode_len_field(5, encode_varint_field(1, cid)) for cid in changeset_ids
            )
        )
    body = st.encode()
    for gp in group_payloads:
        body += encode_len_field(2, gp)
    if granularity != 100:
        body += encode_varint_field(17, granularity)
    if date_granularity != 1000:
        body += encode_varint_field(18, date_granularity)
    if lat_offset:  # int64, not sint64: a negative one takes 10 bytes
        body += encode_varint_field(19, lat_offset)
    if lon_offset:
        body += encode_varint_field(20, lon_offset)
    return body


def build_header_block(
    required_features=("OsmSchema-V0.6", "DenseNodes"),
    writingprogram: str = "osm_read_enhanced_spark",
    bbox=None,
    replication_timestamp: int | None = None,
    replication_sequence: int | None = None,
    replication_base_url: str | None = None,
) -> bytes:
    body = b""
    if bbox is not None:
        left, right, top, bottom = bbox
        bb = b""
        for fno, v in ((1, left), (2, right), (3, top), (4, bottom)):
            bb += encode_varint_field(fno, zigzag_encode(int(v * 1e9)))
        body += encode_len_field(1, bb)
    for feat in required_features:
        body += encode_len_field(4, feat.encode())
    body += encode_len_field(16, writingprogram.encode())
    # osmosis replication state (osmformat.proto:57-78, fields 32-34)
    if replication_timestamp is not None:
        body += encode_varint_field(32, replication_timestamp)
    if replication_sequence is not None:
        body += encode_varint_field(33, replication_sequence)
    if replication_base_url is not None:
        body += encode_len_field(34, replication_base_url.encode())
    return body


def write_pbf(
    path: str,
    data_blocks: list[dict],
    compress: bool = True,
    header_kwargs: dict | None = None,
) -> None:
    """Write a full PBF file.

    ``data_blocks``: list of dicts with keys nodes/ways/relations (+
    optional granularity/lat_offset/lon_offset/date_granularity), one
    OSMData FileBlock each, preceded by one OSMHeader block.
    """
    with open(path, "wb") as f:
        f.write(_frame_block("OSMHeader", build_header_block(**(header_kwargs or {})), compress))
        for blk in data_blocks:
            payload = build_primitive_block(
                blk.get("nodes", ()),
                blk.get("ways", ()),
                blk.get("relations", ()),
                blk.get("granularity", 100),
                blk.get("lat_offset", 0),
                blk.get("lon_offset", 0),
                blk.get("date_granularity", 1000),
                dense_group_size=blk.get("dense_group_size"),
                changeset_ids=blk.get("changeset_ids", ()),
            )
            f.write(_frame_block("OSMData", payload, compress))
