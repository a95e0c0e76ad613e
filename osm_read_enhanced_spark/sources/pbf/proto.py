"""Protobuf wire primitives, numpy-vectorized.

The reference decodes varints one byte at a time in JS
(reference lib/OSM_Blob.js:165-205 — LEB128 + ZigZag with a single-byte
fast path). Here the packed arrays (dense node ids/lats/lons, way refs,
keys/vals) are decoded as whole numpy vectors per block — the Arrow-batch
analogue of the reference's per-element loop, and the reason the decode
UDF stays off the per-row-Python slow path.
"""

from __future__ import annotations

import numpy as np

# wire types
WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_SGROUP = 3
WT_EGROUP = 4
WT_I32 = 5


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar LEB128 read → (value, new_pos). Python ints (no 53-bit hazard)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7


def zigzag_decode(v: int) -> int:
    """ZigZag: (n>>1) ^ -(n&1) (reference lib/OSM_Blob.js:192-205)."""
    return (v >> 1) ^ -(v & 1)


def int64_decode(v: int) -> int:
    """A varint read as unsigned → the int64/int32 it carries (protobuf
    sends those as their 64-bit two's complement)."""
    return v - (1 << 64) if v >> 63 else v


def zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def iter_fields(buf: bytes, start: int = 0, end: int | None = None):
    """Walk a protobuf message, yielding (field_no, wire_type, value).

    value is an int for WT_VARINT/WT_I64/WT_I32, and an (s, e) byte-slice
    tuple for WT_LEN. Unknown groups are skipped (reference
    lib/OSM_Blob.js:209-257 field-skip semantics).
    """
    if end is None:
        end = len(buf)
    pos = start
    while pos < end:
        tag, pos = read_varint(buf, pos)
        field_no = tag >> 3
        wt = tag & 0x7
        if wt == WT_VARINT:
            val, pos = read_varint(buf, pos)
            yield field_no, wt, val
        elif wt == WT_LEN:
            ln, pos = read_varint(buf, pos)
            yield field_no, wt, (pos, pos + ln)
            pos += ln
        elif wt == WT_I64:
            yield field_no, wt, int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        elif wt == WT_I32:
            yield field_no, wt, int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        elif wt == WT_SGROUP:
            # deprecated groups: skip to matching end-group
            depth = 1
            while depth:
                t2, pos = read_varint(buf, pos)
                w2 = t2 & 0x7
                if w2 == WT_SGROUP:
                    depth += 1
                elif w2 == WT_EGROUP:
                    depth -= 1
                elif w2 == WT_VARINT:
                    _, pos = read_varint(buf, pos)
                elif w2 == WT_LEN:
                    ln, pos = read_varint(buf, pos)
                    pos += ln
                elif w2 == WT_I64:
                    pos += 8
                elif w2 == WT_I32:
                    pos += 4
        elif wt == WT_EGROUP:
            return
        else:
            raise ValueError(f"bad wire type {wt} at {pos}")


def decode_packed_uvarints(data: bytes | memoryview) -> np.ndarray:
    """Vectorized LEB128 decode of a packed varint field → uint64 array.

    Strategy: byte-parallel — terminator bytes (<0x80) delimit groups;
    per-byte shift = 7 × (position within group); scatter-add payloads.
    One pass over the buffer, no python loop.
    """
    if len(data) <= 64:
        # scalar fast path: tiny packed fields (way keys/vals, member
        # arrays) are dominated by numpy call overhead otherwise
        out = []
        result = 0
        shift = 0
        for b in bytes(data):
            result |= (b & 0x7F) << shift
            if b < 0x80:
                out.append(result)
                result = 0
                shift = 0
            else:
                shift += 7
        return np.array(out, dtype=np.uint64)
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = buf < 0x80
    n = int(ends.sum())
    gidx = np.zeros(buf.size, dtype=np.int64)
    np.cumsum(ends[:-1], out=gidx[1:])
    end_pos = np.flatnonzero(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = end_pos[:-1] + 1
    shift = ((np.arange(buf.size) - starts[gidx]) * 7).astype(np.uint64)
    payload = (buf & np.uint8(0x7F)).astype(np.uint64) << shift
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, gidx, payload)
    return vals


def decode_packed_svarints(data: bytes | memoryview) -> np.ndarray:
    """Packed sint64 (ZigZag) field → int64 array."""
    u = decode_packed_uvarints(data)
    return (u >> np.uint64(1)).astype(np.int64) ^ -((u & np.uint64(1)).astype(np.int64))


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    """Cumulative sum of per-element deltas (reference cumsum semantics,
    lib/OSM_Blob.js:1180-1205). Block-local: never spans blocks."""
    return np.cumsum(deltas, dtype=np.int64)


def encode_varint(v: int) -> bytes:
    """LEB128. A negative value is sent as its 64-bit two's complement
    (10 bytes), as protobuf does for int32/int64 fields."""
    if v < 0:
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_packed_uvarints(vals) -> bytes:
    """Vectorized LEB128 encode of a value sequence (mirror of the
    byte-parallel decoder above): per-value byte counts from bit
    lengths, 7-bit payload extraction into a (n × max_bytes) grid,
    continuation bits everywhere but each group's last byte, then one
    boolean-mask compaction. Falls back to the scalar loop for tiny
    inputs (numpy call overhead dominates) or values ≥ 2^63."""
    arr = np.asarray(list(vals) if not isinstance(vals, np.ndarray) else vals)
    n = arr.size
    if n == 0:
        return b""
    if n < 32 or arr.dtype == object or (arr.dtype.kind not in "iu"):
        return _encode_packed_uvarints_scalar(arr)
    if bool((arr < 0).any() if arr.dtype.kind == "i" else False):
        # a uvarint encoder has no representation for negatives (the
        # scalar loop would spin forever on python's arithmetic >>);
        # callers wanting signed values must zigzag first
        raise ValueError("encode_packed_uvarints: negative input; zigzag-encode first")
    a = arr.astype(np.uint64, copy=False)
    if bool((a >> np.uint64(63)).any()):  # int64-shift trick needs bit63 clear
        return _encode_packed_uvarints_scalar(arr)
    # bytes needed per value: ceil(bitlen/7), min 1
    nbytes = np.ones(n, dtype=np.int64)
    v = a >> np.uint64(7)
    while bool((v != 0).any()):
        nbytes += (v != 0).astype(np.int64)
        v >>= np.uint64(7)
    max_b = int(nbytes.max())
    ai = a.view(np.int64)  # values < 2^63 here; int64 shifts are fast
    grid = np.empty((n, max_b), dtype=np.uint8)
    for j in range(max_b):  # ≤10 vectorized column ops — NOT a 2D
        grid[:, j] = (ai >> (7 * j)) & 0x7F  # broadcast shift (400× slower)
    mask = np.arange(max_b)[None, :] < nbytes[:, None]
    cont = np.arange(max_b)[None, :] < (nbytes - 1)[:, None]
    grid |= np.where(cont, np.uint8(0x80), np.uint8(0))
    return grid[mask].tobytes()


def _encode_packed_uvarints_scalar(vals) -> bytes:
    out = bytearray()
    for v in vals:
        v = int(v)
        if v < 0:
            raise ValueError(
                "encode_packed_uvarints: negative input; zigzag-encode first"
            )
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def encode_packed_svarints(vals) -> bytes:
    arr = np.asarray(list(vals) if not isinstance(vals, np.ndarray) else vals)
    if arr.size >= 32 and arr.dtype.kind == "i":
        s = arr.astype(np.int64, copy=False)
        zz = (s.view(np.uint64) << np.uint64(1)) ^ (s >> np.int64(63)).view(np.uint64)
        return encode_packed_uvarints(zz)
    return _encode_packed_uvarints_scalar(zigzag_encode(int(v)) for v in arr)


def encode_key(field_no: int, wire_type: int) -> bytes:
    return encode_varint((field_no << 3) | wire_type)


def encode_len_field(field_no: int, payload: bytes) -> bytes:
    return encode_key(field_no, WT_LEN) + encode_varint(len(payload)) + payload


def encode_varint_field(field_no: int, v: int) -> bytes:
    return encode_key(field_no, WT_VARINT) + encode_varint(v)
