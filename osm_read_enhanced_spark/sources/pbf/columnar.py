"""Arrow-native single-pass PrimitiveBlock decode — the package's only
entity decoder, behind ``read_pbf`` / ``read_pbf_union``.

Each block is inflated and TLV-walked ONCE, emitting ALL requested
entity kinds as pyarrow RecordBatches built directly from numpy index
arrays — no per-row python dicts, no pandas detour:

- one walker (``_walk``) collects, per way / relation / plain node /
  Info message, the byte spans of the fields asked for; one value
  decoder (``_batch_packed``) then decodes each field across all
  messages of the block in one vectorized pass;
- node/way/relation tags become ``pa.MapArray.from_arrays(offsets,
  keys, items)`` where keys/items are C++ ``take``s of the block's
  string table (built once per block straight from the wire bytes);
- way refs / relation members become ListArray/StructArray from the
  packed-varint numpy decodes;
- metadata (version/timestamp/.../user/visible) stays numpy end-to-end
  as (values, valid) pairs (user resolved by the same string-table take).

This is the engine's answer to the reference decoding each blob once
and dispatching all groups (lib/pbfParser.js:741-759 →
visitOSMDataBlock 319-378) instead of re-inflating per entity kind.

Tests pin the output to the FIXTURES.md goldens and to an independent
decoder written from the wire format in tests/test_differential.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .decode import COMPAT, STRICT, decode_blob
from .proto import (
    WT_I32,
    WT_I64,
    WT_LEN,
    WT_VARINT,
    decode_packed_svarints,
    decode_packed_uvarints,
    delta_decode,
    int64_decode,
    iter_fields,
    read_varint,
)

KIND_NODE, KIND_WAY, KIND_RELATION = "node", "way", "relation"

# Arrow schema of the tagged-union output (mirrors reader.UNION_SCHEMA)
MEMBER_ARROW = pa.struct(
    [
        pa.field("ref", pa.int64(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("type", pa.int32(), nullable=False),
    ]
)
UNION_ARROW_SCHEMA = pa.schema(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("id", pa.int64(), nullable=False),
        pa.field("lat", pa.float64()),
        pa.field("lon", pa.float64()),
        pa.field("tags", pa.map_(pa.string(), pa.string())),
        pa.field("refs", pa.list_(pa.int64())),
        pa.field("members", pa.list_(MEMBER_ARROW)),
        pa.field("version", pa.int32()),
        pa.field("timestamp", pa.int64()),
        pa.field("changeset", pa.int64()),
        pa.field("uid", pa.int64()),
        pa.field("user", pa.string()),
        pa.field("visible", pa.bool_()),
        pa.field("block_id", pa.int32(), nullable=False),
    ]
)


# ------------------------------------------------------- string table


def _string_table_arrow(data: bytes, s: int, e: int, mode: str):
    """Block string table → (pa.StringArray lookup table, clamp_idx).

    The table is built once per block straight from the wire: string
    bytes are copied into one contiguous buffer with offsets — no
    per-string python objects. Layout per decode mode:

    - strict: [table..., ""] — clamp out-of-range to the final ""
    - compat: ["", table..., ""] — reference OSM_Blob off-by-one cache
      (entry 0 appended twice, lib/OSM_Blob.js:360-367): index i
      resolves one entry late
    """
    chunks = []
    lengths = []
    for fno, wt, val in iter_fields(data, s, e):
        if fno == 1 and wt == WT_LEN:
            chunks.append(data[val[0] : val[1]])
            lengths.append(val[1] - val[0])
    n = len(chunks)
    prefix = 1 if mode == COMPAT else 0
    offsets = np.zeros(n + prefix + 2, dtype=np.int32)
    if n:
        offsets[prefix + 1 : prefix + n + 1] = (
            np.asarray(lengths, dtype=np.int64).cumsum().astype(np.int32)
        )
    offsets[prefix + n + 1] = offsets[prefix + n]  # trailing ""
    values = b"".join(chunks)
    arr = pa.StringArray.from_buffers(
        n + prefix + 1,
        pa.py_buffer(offsets.tobytes()),
        pa.py_buffer(values),
    )
    clamp = n + prefix  # index of the trailing "" slot
    return arr, clamp


def _take_strings(table: pa.StringArray, clamp: int, idx: np.ndarray, valid=None):
    """String-table lookup; where ``valid`` is False the result is null."""
    safe = np.minimum(idx.astype(np.int64, copy=False), clamp)
    mask = None if valid is None else ~valid
    return table.take(pa.array(safe, type=pa.int64(), mask=mask))


# ------------------------------------------------------- block meta


class _BlockMeta:
    __slots__ = ("granularity", "date_granularity", "lat_offset", "lon_offset")

    def __init__(self):
        self.granularity = 100
        self.date_granularity = 1000
        self.lat_offset = 0
        self.lon_offset = 0


_EMPTY_I64 = np.empty(0, dtype=np.int64)


def _scan_block(data: bytes):
    """Top-level PrimitiveBlock walk → (string-table span, group spans,
    meta)."""
    meta = _BlockMeta()
    st_span = None
    groups = []
    for fno, wt, val in iter_fields(data):
        if fno == 1 and wt == WT_LEN:
            st_span = val
        elif fno == 2 and wt == WT_LEN:
            groups.append(val)
        elif fno == 17 and wt == WT_VARINT:
            meta.granularity = val
        elif fno == 18 and wt == WT_VARINT:
            meta.date_granularity = val
        elif fno == 19 and wt == WT_VARINT:  # int64, not sint64
            meta.lat_offset = int64_decode(val)
        elif fno == 20 and wt == WT_VARINT:
            meta.lon_offset = int64_decode(val)
    return st_span, groups, meta


# ------------------------------------------------------- dense nodes


def _kv_runs_columnar(kv: np.ndarray, n: int):
    """0-terminated ((k,v)* 0)* runs → (offsets[n+1], key_idx, val_idx).

    Vectorized fast path: when every zero is a terminator (zero count ==
    n and all runs even-length), each run contributes an even number of
    non-zero entries, so after dropping zeros the global even positions
    are exactly the keys. Falls back to the sequential parity walk when
    a zero appears at a value position (legal but unseen in real files).
    """
    offsets = np.zeros(n + 1, dtype=np.int64)
    if kv.size == 0:
        return offsets, _EMPTY_I64, _EMPTY_I64
    zero_pos = np.flatnonzero(kv == 0)
    if len(zero_pos) == n:
        starts = np.empty(n, dtype=np.int64)
        starts[0] = 0
        starts[1:] = zero_pos[:-1] + 1
        counts = zero_pos - starts
        if bool(np.all(counts % 2 == 0)):
            np.cumsum(counts // 2, out=offsets[1:])
            nz = kv[kv != 0]
            return offsets, nz[0::2], nz[1::2]
    # general path: sequential parity walk
    keys, vals, cnt = [], [], []
    i, node = 0, 0
    m = kv.size
    while i < m and node < n:
        c = 0
        while i < m and kv[i] != 0:
            keys.append(int(kv[i]))
            vals.append(int(kv[i + 1]) if i + 1 < m else 0)
            c += 1
            i += 2
        i += 1
        cnt.append(c)
        node += 1
    while node < n:
        cnt.append(0)
        node += 1
    np.cumsum(cnt, out=offsets[1:])
    return offsets, np.array(keys, dtype=np.int64), np.array(vals, dtype=np.int64)


def _dense_info_columnar(data: bytes, spans, n: int, date_gran: int):
    """DenseInfo occurrences ``spans`` → dict of numpy arrays (user kept
    as sid indices). Protobuf merges repeated occurrences, so a field
    split over several packed runs, in one occurrence or across
    several, is their concatenation, delta decoded across the runs."""
    runs: dict[int, list] = {}
    for s, e in spans:
        for fno, wt, val in iter_fields(data, s, e):
            if wt == WT_LEN:
                runs.setdefault(fno, []).append(data[val[0] : val[1]])

    def packed(fno, decode):
        sl = runs.get(fno)
        return np.concatenate([decode(b) for b in sl]) if sl else None

    def delta(fno):
        vals = packed(fno, decode_packed_svarints)
        return None if vals is None else delta_decode(vals)

    version = packed(1, decode_packed_uvarints)
    timestamp = delta(2)
    visible = packed(6, decode_packed_uvarints)
    info = {
        "version": None if version is None else version.astype(np.int32),
        "timestamp": None if timestamp is None else timestamp * date_gran,
        "changeset": delta(3),
        "uid": delta(4),
        "user_sid": delta(5),
        "visible": None if visible is None else visible.astype(bool),
    }
    if info["visible"] is None and n:
        info["visible"] = np.ones(n, dtype=bool)
    return info


def _parse_dense_columnar(data, s, e, meta: _BlockMeta, want_info: bool):
    """One DenseNodes group → columnar dict."""
    spans = {}
    for fno, wt, val in iter_fields(data, s, e):
        if wt == WT_LEN:
            spans.setdefault(fno, []).append(val)

    def packed_s(fno):
        sl = spans.get(fno)
        if not sl:
            return _EMPTY_I64
        return delta_decode(
            np.concatenate(
                [decode_packed_svarints(data[a:b]) for a, b in sl]
            ) if len(sl) > 1 else decode_packed_svarints(data[sl[0][0] : sl[0][1]])
        )

    ids = packed_s(1)
    lats = packed_s(8)
    lons = packed_s(9)
    n = len(ids)
    lat_deg = (meta.lat_offset + meta.granularity * lats.astype(np.float64)) / 1e9
    lon_deg = (meta.lon_offset + meta.granularity * lons.astype(np.float64)) / 1e9
    # field 10 may be split across multiple packed occurrences just like
    # fields 1/8/9 — concatenate every span, not just the first
    kv_span = spans.get(10)
    if not kv_span:
        kv = _EMPTY_I64
    elif len(kv_span) == 1:
        kv = decode_packed_uvarints(data[kv_span[0][0] : kv_span[0][1]]).astype(np.int64)
    else:
        kv = np.concatenate(
            [decode_packed_uvarints(data[a:b]) for a, b in kv_span]
        ).astype(np.int64)
    tag_offsets, key_idx, val_idx = _kv_runs_columnar(kv, n)
    info = None
    if want_info and spans.get(5):
        info = _dense_info_columnar(data, spans[5], n, meta.date_granularity)
    return {
        "n": n, "ids": ids, "lat": lat_deg, "lon": lon_deg,
        "tag_offsets": tag_offsets, "key_idx": key_idx, "val_idx": val_idx,
        "info": info,
    }


# ------------------------------------------------------- message walk


def _walk(data, spans, tags, owner=None, n=None):
    """The per-message TLV walk: for each message span, the spans of the
    wanted fields, keyed by wire tag (``field << 3 | wire type``).

    → {tag: [per-message tuple of (s, e)]}. A length-delimited
    occurrence yields its payload (packed values or a sub-message); a
    varint occurrence yields the span of its own bytes — a one-value
    packed run — so scalars, repeated varints and packed fields all
    batch-decode through ``_batch_packed``. Other fields are skipped.

    ``owner`` (with the message count ``n``) names the message each span
    belongs to, for a message split over several spans (repeated
    occurrences of a sub-message field): their fields join in span order.
    """
    # tuples, grown on the rare hit, cost less than one list per message
    out = {t: [()] * (len(spans) if n is None else n) for t in tags}
    for mi, (s, e) in zip(range(len(spans)) if owner is None else owner, spans):
        pos = s
        while pos < e:
            tag, pos = read_varint(data, pos)
            wt = tag & 0x7
            if wt == WT_VARINT:
                start = pos
                _, pos = read_varint(data, pos)
                span = (start, pos)
            elif wt == WT_LEN:
                ln, pos = read_varint(data, pos)
                span = (pos, pos + ln)
                pos += ln
            elif wt == WT_I64:
                pos += 8
                continue
            elif wt == WT_I32:
                pos += 4
                continue
            else:  # pragma: no cover - deprecated groups
                break
            found = out.get(tag)
            if found is not None:
                found[mi] += (span,)
    return out


def _len_tag(fno: int) -> int:
    return fno << 3 | WT_LEN


def _varint_tag(fno: int) -> int:
    return fno << 3 | WT_VARINT


def _batch_packed(data, msg_chunks, signed: bool, delta: bool):
    """Batch-decode one packed field across MANY messages in one
    vectorized pass: all messages' chunk bytes are joined into a single
    buffer (each chunk ends on a varint terminator, so concatenation
    preserves the value stream), decoded once with the byte-parallel
    kernel, then split back by per-message value counts. ``delta``
    applies the per-message cumulative sum (segmented cumsum: global
    cumsum minus each segment's starting base) — this is what removes
    the per-way/per-relation numpy call overhead (was ~60µs/way).

    ``msg_chunks``: per message, list of (s, e) spans.
    → (flat int64 values, per-message counts int64).
    """
    n_msg = len(msg_chunks)
    counts = np.zeros(n_msg, dtype=np.int64)
    parts, chunk_msg = [], []
    for mi, chunks in enumerate(msg_chunks):
        for s, e in chunks:
            parts.append(data[s:e])
            chunk_msg.append(mi)
    if not parts:
        return _EMPTY_I64, counts
    big = b"".join(parts)
    buf = np.frombuffer(big, dtype=np.uint8)
    ends_cum = np.zeros(buf.size + 1, dtype=np.int64)
    np.cumsum(buf < 0x80, out=ends_cum[1:])
    lengths = np.fromiter((len(p) for p in parts), dtype=np.int64, count=len(parts))
    bnd = np.zeros(len(parts) + 1, dtype=np.int64)
    np.cumsum(lengths, out=bnd[1:])
    ccount = ends_cum[bnd[1:]] - ends_cum[bnd[:-1]]
    np.add.at(counts, np.asarray(chunk_msg, dtype=np.int64), ccount)
    vals_u = decode_packed_uvarints(big)
    if signed:
        vals = (vals_u >> np.uint64(1)).astype(np.int64) ^ -(
            (vals_u & np.uint64(1)).astype(np.int64)
        )
    else:
        vals = vals_u.astype(np.int64)
    if delta:
        c = np.cumsum(vals)
        offs = np.zeros(n_msg + 1, dtype=np.int64)
        np.cumsum(counts, out=offs[1:])
        starts = offs[:-1]
        base = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
        vals = c - np.repeat(base, counts)
    return vals, counts


def _repeated(data, walked, fno, signed=False, delta=False):
    """Repeated field ``fno`` of every walked message → (flat int64,
    counts). A message's packed spans win when it has any, else its
    repeated varints are used: the reference OSM_Blob lazy path read
    only the latter and dropped tags on real files (lib/OSM_Blob.js:1328)."""
    chosen = [
        packed or rep
        for packed, rep in zip(walked[_len_tag(fno)], walked[_varint_tag(fno)])
    ]
    return _batch_packed(data, chosen, signed, delta)


def _scalar(data, msg_spans, signed=False):
    """Scalar varint field per message → (int64 values, present). The
    last occurrence wins, as protobuf merges; an absent field reads 0.
    Unsigned varints come back as int64 two's complement, so a negative
    int64/int32 sent as a 10-byte varint decodes to its value."""
    vals, counts = _batch_packed(data, msg_spans, signed, False)
    present = counts > 0
    out = np.zeros(len(counts), dtype=np.int64)
    out[present] = vals[np.cumsum(counts)[present] - 1]
    return out, present


def _offsets(counts) -> np.ndarray:
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    return off


def _trim(cols):
    """Zip semantics over N parallel segmented arrays ``[(flat, counts)]``:
    each message keeps the minimum of its counts, every array trimmed to
    it. → ([flat, ...], counts)."""
    m = np.minimum.reduce([counts for _, counts in cols])
    out = []
    for flat, counts in cols:
        if not np.array_equal(counts, m):
            start = np.repeat(_offsets(counts)[:-1], counts)
            flat = flat[np.arange(flat.size) - start < np.repeat(m, counts)]
        out.append(flat)
    return out, m


# ------------------------------------------------------- Info

# Info / DenseInfo field number, name and column dtype
_INFO_FIELDS = (
    (1, "version", np.int32),
    (2, "timestamp", np.int64),
    (3, "changeset", np.int64),
    (4, "uid", np.int64),
    (5, "user_sid", np.int64),
    (6, "visible", bool),
)


def _null_info(n):
    return {
        name: (np.zeros(n, dtype=dtype), np.zeros(n, dtype=bool))
        for _, name, dtype in _INFO_FIELDS
    }


def _info(data, walked, date_gran):
    """Info sub-messages (field 4) of the walked messages → {name:
    (values, valid)}, or None when no message has one. A message without
    Info is null in every column; inside an Info a missing field is null,
    except ``visible``, which defaults to True. Repeated Info occurrences
    merge as protobuf merges them: each field's last occurrence wins."""
    info_spans = walked[_len_tag(4)]
    if not any(info_spans):
        return None
    has = np.array([bool(sp) for sp in info_spans], dtype=bool)
    fields = _walk(
        data,
        [s for sp in info_spans for s in sp],
        [_varint_tag(fno) for fno, _, _ in _INFO_FIELDS],
        owner=[mi for mi, sp in enumerate(info_spans) for _ in sp],
        n=len(info_spans),
    )
    info = {}
    for fno, name, dtype in _INFO_FIELDS:
        vals, valid = _scalar(data, fields[_varint_tag(fno)])
        info[name] = (vals.astype(dtype), valid)
    ts, valid = info["timestamp"]
    info["timestamp"] = (ts * date_gran, valid)
    vis, valid = info["visible"]
    info["visible"] = (vis | ~valid, has)
    return info


def _dense_info_pairs(info, n):
    """``_dense_info_columnar``'s arrays (None for an absent field) →
    the (values, valid) form."""
    if info is None:
        return None
    pairs = _null_info(n)
    for _, name, _ in _INFO_FIELDS:
        if info[name] is not None:
            pairs[name] = (info[name], np.ones(n, dtype=bool))
    return pairs


# ------------------------------------------------------- messages


def _messages(data, spans, kind_tags, meta, want_info, compat, signed_id=False):
    """Walk the way / relation / plain-node messages of a block → (walked
    spans, the columnar dict every kind shares: id=1, tags from keys=2 /
    vals=3, Info=4). ``kind_tags`` adds the kind's own fields.
    compat: no tags (OSM_Blob packed-keys bug, lib/OSM_Blob.js:1328)."""
    common = (_len_tag(2), _varint_tag(2), _len_tag(3), _varint_tag(3), _len_tag(4))
    w = _walk(data, spans, (_varint_tag(1),) + common + kind_tags)
    n = len(spans)
    if compat:
        tag_offsets, keys, vals = np.zeros(n + 1, dtype=np.int64), _EMPTY_I64, _EMPTY_I64
    else:
        (keys, vals), counts = _trim([_repeated(data, w, 2), _repeated(data, w, 3)])
        tag_offsets = _offsets(counts)
    return w, {
        "n": n,
        "ids": _scalar(data, w[_varint_tag(1)], signed_id)[0],
        "tag_offsets": tag_offsets,
        "key_idx": keys,
        "val_idx": vals,
        "info": _info(data, w, meta.date_granularity) if want_info else None,
    }


def _parse_plain_nodes_columnar(data, spans, meta, want_info, compat):
    """Non-dense Node messages (rare; reference classic parser refuses
    them, lib/pbfParser.js:519-521 — supported per spec, like OSM_Blob's
    individual-node path lib/OSM_Blob.js:1209-1262) → the dense dict.
    id=1, lat=8 and lon=9 are sint64."""
    w, nodes = _messages(
        data, spans, (_varint_tag(8), _varint_tag(9)), meta, want_info, compat, signed_id=True
    )
    for fno, coord, offset in ((8, "lat", meta.lat_offset), (9, "lon", meta.lon_offset)):
        raw, _ = _scalar(data, w[_varint_tag(fno)], signed=True)
        nodes[coord] = (offset + meta.granularity * raw.astype(np.float64)) / 1e9
    return nodes


def _parse_ways_columnar(data, spans, meta, want_info, compat):
    """Way messages → (columnar dict, refs ListArray); refs=8 are
    delta-coded sint64, batch-decoded across all ways in one pass."""
    w, ways = _messages(data, spans, (_len_tag(8), _varint_tag(8)), meta, want_info, compat)
    refs, ref_counts = _repeated(data, w, 8, signed=True, delta=True)
    return ways, pa.ListArray.from_arrays(
        pa.array(_offsets(ref_counts).astype(np.int32), type=pa.int32()),
        pa.array(refs, type=pa.int64()),
    )


def _parse_relations_columnar(data, spans, meta, want_info, compat, table, clamp):
    """Relation messages → (columnar dict, members ListArray). roles_sid=8,
    memids=9 (field 9 per spec — NOT 8, the OSM_Blob fastParse bug,
    lib/OSM_Blob.js:962), types=10; member wire order preserved."""
    member_tags = tuple(t for f in (8, 9, 10) for t in (_len_tag(f), _varint_tag(f)))
    w, rels = _messages(data, spans, member_tags, meta, want_info, compat)
    (roles, memids, types), mem_counts = _trim(
        [
            _repeated(data, w, 8),
            _repeated(data, w, 9, signed=True, delta=True),
            _repeated(data, w, 10),
        ]
    )
    struct = pa.StructArray.from_arrays(
        [
            pa.array(memids, type=pa.int64()),
            _take_strings(table, clamp, roles),
            pa.array(types.astype(np.int32), type=pa.int32()),
        ],
        fields=list(MEMBER_ARROW),
    )
    return rels, pa.ListArray.from_arrays(
        pa.array(_offsets(mem_counts).astype(np.int32), type=pa.int32()), struct
    )


# ------------------------------------------------------- Arrow assembly


def _union_batch(kind, part, table, clamp, block_id, refs=None, members=None):
    """One kind's columnar dict → a UNION_ARROW_SCHEMA RecordBatch."""
    n = part["n"]
    cols = [
        pa.array([kind] * n, type=pa.string()),
        pa.array(part["ids"], type=pa.int64()),
    ]
    for coord in ("lat", "lon"):
        vals = part.get(coord)
        cols.append(
            pa.nulls(n, pa.float64()) if vals is None else pa.array(vals, type=pa.float64())
        )
    cols.append(
        pa.MapArray.from_arrays(
            pa.array(part["tag_offsets"].astype(np.int32), type=pa.int32()),
            _take_strings(table, clamp, part["key_idx"]),
            _take_strings(table, clamp, part["val_idx"]),
        )
    )
    cols.append(refs if refs is not None else pa.nulls(n, pa.list_(pa.int64())))
    cols.append(members if members is not None else pa.nulls(n, pa.list_(MEMBER_ARROW)))
    info = part["info"]
    for _, name, _ in _INFO_FIELDS:
        column = "user" if name == "user_sid" else name
        if info is None:
            cols.append(pa.nulls(n, UNION_ARROW_SCHEMA.field(column).type))
        elif column == "user":
            cols.append(_take_strings(table, clamp, *info[name]))
        else:
            vals, valid = info[name]
            cols.append(
                pa.array(vals, type=UNION_ARROW_SCHEMA.field(column).type, mask=~valid)
            )
    cols.append(pa.array(np.full(n, block_id, dtype=np.int32), type=pa.int32()))
    return pa.RecordBatch.from_arrays(cols, schema=UNION_ARROW_SCHEMA)


def _merge_node_parts(parts: list[dict]) -> dict:
    """Concatenate the node groups of one block (several DenseNodes
    groups, or dense + plain), info row-aligned and null where a group
    has none."""
    if len(parts) == 1:
        return parts[0]
    n = sum(p["n"] for p in parts)
    off = np.zeros(n + 1, dtype=np.int64)
    pos, acc = 1, 0
    for p in parts:
        off[pos : pos + p["n"]] = p["tag_offsets"][1:] + acc
        acc += p["tag_offsets"][-1]
        pos += p["n"]
    merged = {
        "n": n,
        "ids": np.concatenate([p["ids"] for p in parts]),
        "lat": np.concatenate([p["lat"] for p in parts]),
        "lon": np.concatenate([p["lon"] for p in parts]),
        "tag_offsets": off,
        "key_idx": np.concatenate([p["key_idx"] for p in parts]),
        "val_idx": np.concatenate([p["val_idx"] for p in parts]),
        "info": None,
    }
    if any(p["info"] is not None for p in parts):
        infos = [p["info"] or _null_info(p["n"]) for p in parts]
        merged["info"] = {
            name: (
                np.concatenate([i[name][0] for i in infos]),
                np.concatenate([i[name][1] for i in infos]),
            )
            for _, name, _ in _INFO_FIELDS
        }
    return merged


def decode_block_arrow(
    payload: bytes,
    block_id: int,
    mode: str = STRICT,
    kinds: tuple = (KIND_NODE, KIND_WAY, KIND_RELATION),
    want_info: bool = True,
) -> list[pa.RecordBatch]:
    """One decompressed PrimitiveBlock → union RecordBatches (one per
    present entity kind), decoding every requested group in ONE walk."""
    if mode not in (STRICT, COMPAT):
        raise ValueError(f"unknown decode mode {mode!r}")
    compat = mode == COMPAT
    st_span, groups, meta = _scan_block(payload)
    table, clamp = _string_table_arrow(
        payload, *(st_span or (0, 0)), mode
    )
    node_parts = []
    way_spans, rel_spans = [], []
    for gs, ge in groups:
        plain_spans = []
        for fno, wt, val in iter_fields(payload, gs, ge):
            if wt != WT_LEN:
                continue
            if fno == 1 and KIND_NODE in kinds:
                plain_spans.append(val)
            elif fno == 2 and KIND_NODE in kinds:
                dense = _parse_dense_columnar(payload, val[0], val[1], meta, want_info)
                dense["info"] = _dense_info_pairs(dense["info"], dense["n"])
                node_parts.append(dense)
            elif fno == 3 and KIND_WAY in kinds:
                way_spans.append(val)
            elif fno == 4 and KIND_RELATION in kinds:
                rel_spans.append(val)
        if plain_spans:
            node_parts.append(
                _parse_plain_nodes_columnar(payload, plain_spans, meta, want_info, compat)
            )

    out = []
    if node_parts:
        nodes = _merge_node_parts(node_parts)
        if nodes["n"]:
            out.append(_union_batch(KIND_NODE, nodes, table, clamp, block_id))
    if way_spans:
        ways, refs = _parse_ways_columnar(payload, way_spans, meta, want_info, compat)
        out.append(_union_batch(KIND_WAY, ways, table, clamp, block_id, refs=refs))
    if rel_spans:
        rels, members = _parse_relations_columnar(
            payload, rel_spans, meta, want_info, compat, table, clamp
        )
        out.append(_union_batch(KIND_RELATION, rels, table, clamp, block_id, members=members))
    return out


def decode_blob_to_batches(
    raw: bytes,
    block_id: int,
    mode: str = STRICT,
    kinds: tuple = (KIND_NODE, KIND_WAY, KIND_RELATION),
    want_info: bool = True,
) -> list[pa.RecordBatch]:
    """Blob wire bytes → union RecordBatches (inflate + one-pass decode)."""
    return decode_block_arrow(decode_blob(raw), block_id, mode, kinds, want_info)
