"""Wire-primitive unit tests (varint/zigzag/packed/delta)."""

import numpy as np
from hypothesis import given
from hypothesis import strategies as st

from osm_read_enhanced_spark.sources.pbf.proto import (
    decode_packed_svarints,
    decode_packed_uvarints,
    delta_decode,
    encode_packed_svarints,
    encode_packed_uvarints,
    encode_varint,
    iter_fields,
    read_varint,
    zigzag_decode,
    zigzag_encode,
)


def test_varint_known_values():
    # classic protobuf examples
    assert read_varint(b"\x01", 0) == (1, 1)
    assert read_varint(b"\xac\x02", 0) == (300, 2)
    assert read_varint(b"\x80\x80\x01", 0) == (16384, 3)


def test_encode_varint_negative_is_twos_complement():
    # protobuf sends negative int32/int64 as 10-byte two's complement
    assert encode_varint(-1) == b"\xff" * 9 + b"\x01"
    assert read_varint(encode_varint(-5), 0) == (2**64 - 5, 10)
    assert encode_varint(300) == b"\xac\x02"


def test_zigzag_known_values():
    # spec table: 0→0, -1→1, 1→2, -2→3, 2147483647→4294967294
    for dec, enc in [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4), (2147483647, 4294967294)]:
        assert zigzag_encode(dec) == enc
        assert zigzag_decode(enc) == dec


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_packed_uvarint_roundtrip(vals):
    out = decode_packed_uvarints(encode_packed_uvarints(vals))
    assert out.tolist() == vals


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62 - 1), max_size=200))
def test_packed_svarint_roundtrip(vals):
    out = decode_packed_svarints(encode_packed_svarints(vals))
    assert out.tolist() == vals


def test_packed_svarint_beyond_53_bits():
    # the JS reference coerces via Number (53-bit hazard,
    # lib/pbfParser.js:719-733); int64 end-to-end has no such limit.
    vals = [2**60 + 12345, -(2**60) - 999, 2**53 + 1]
    assert decode_packed_svarints(encode_packed_svarints(vals)).tolist() == vals


def test_delta_decode():
    deltas = np.array([319408586, 1, -43956497, 29542890, 1, -2], dtype=np.int64)
    ids = delta_decode(deltas)
    assert ids.tolist() == [319408586, 319408587, 275452090, 304994980, 304994981, 304994979]


def test_iter_fields_skips_unknown_and_groups():
    # field 1 varint=5, unknown group (field 3), field 2 len "ab"
    buf = encode_varint(1 << 3 | 0) + b"\x05"
    buf += encode_varint(3 << 3 | 3) + encode_varint(9 << 3 | 0) + b"\x07" + encode_varint(3 << 3 | 4)
    buf += encode_varint(2 << 3 | 2) + b"\x02ab"
    got = list(iter_fields(buf))
    assert got[0] == (1, 0, 5)
    assert got[-1][0] == 2
    s, e = got[-1][2]
    assert buf[s:e] == b"ab"


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_encode_packed_uvarints_vectorized_equals_scalar(vals):
    import numpy as np

    from osm_read_enhanced_spark.sources.pbf.proto import (
        _encode_packed_uvarints_scalar,
        decode_packed_uvarints,
        encode_packed_uvarints,
    )

    enc = encode_packed_uvarints(np.array(vals, dtype=np.uint64))
    assert enc == _encode_packed_uvarints_scalar(vals)
    assert decode_packed_uvarints(enc).tolist() == vals


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
def test_encode_packed_svarints_roundtrip(vals):
    import numpy as np

    from osm_read_enhanced_spark.sources.pbf.proto import (
        decode_packed_svarints,
        encode_packed_svarints,
    )

    enc = encode_packed_svarints(np.array(vals, dtype=np.int64))
    assert decode_packed_svarints(enc).tolist() == vals
