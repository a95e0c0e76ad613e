"""Round-3 ADVICE regression tests:

- packed DenseNodes fields split across multiple length-delimited
  occurrences (protobuf-legal) decode identically to single-span packing
  — fields 1/8/9 AND the previously-dropped field 10 (tags)
- encode_packed_uvarints raises on negative input instead of routing to
  a scalar loop that would spin forever
"""

import numpy as np
import pytest

from osm_read_enhanced_spark.sources.pbf.columnar import (
    decode_blob_to_batches,
)
from osm_read_enhanced_spark.sources.pbf.proto import (
    encode_len_field,
    encode_packed_svarints,
    encode_packed_uvarints,
    zigzag_encode,
)


def _split_packed_dense_block() -> bytes:
    """A PrimitiveBlock whose one DenseNodes group carries every packed
    field (ids=1, lats=8, lons=9, keys_vals=10) split into TWO packed
    occurrences — legal protobuf that a real encoder may emit when
    flushing buffers. Deltas continue across the split (concatenation
    semantics). 4 nodes: ids 10,20,30,40; node0 tagged {a: b}."""
    id_deltas = [10, 10, 10, 10]
    lat_deltas = [1000, 1000, 1000, 1000]
    lon_deltas = [2000, 2000, 2000, 2000]
    kv = [1, 2, 0, 0, 0, 0]  # (a,b) terminator, then three empty nodes

    def two_spans(fno, chunks, signed):
        enc = encode_packed_svarints if signed else encode_packed_uvarints
        return b"".join(encode_len_field(fno, enc(c)) for c in chunks)

    dense = (
        two_spans(1, [id_deltas[:2], id_deltas[2:]], True)
        + two_spans(8, [lat_deltas[:2], lat_deltas[2:]], True)
        + two_spans(9, [lon_deltas[:2], lon_deltas[2:]], True)
        + two_spans(10, [kv[:3], kv[3:]], False)
    )
    group = encode_len_field(2, dense)  # PrimitiveGroup.dense
    st = (
        encode_len_field(1, b"")
        + encode_len_field(1, b"a")
        + encode_len_field(1, b"b")
    )
    return encode_len_field(1, st) + encode_len_field(2, group)


def test_split_packed_fields_columnar_path():
    import zlib

    payload = _split_packed_dense_block()
    # wrap as a Blob: field 2 raw_size + field 3 zlib_data
    from osm_read_enhanced_spark.sources.pbf.proto import encode_varint_field

    blob = encode_varint_field(2, len(payload)) + encode_len_field(
        3, zlib.compress(payload)
    )
    batches = list(decode_blob_to_batches(blob, 0, kinds=("node",)))
    import pyarrow as pa

    t = pa.Table.from_batches(batches)
    assert t.column("id").to_pylist() == [10, 20, 30, 40]
    assert t.column("lat").to_pylist() == [
        pytest.approx(1000 * 100 * k / 1e9) for k in (1, 2, 3, 4)
    ]
    assert t.column("lon").to_pylist() == [
        pytest.approx(2000 * 100 * k / 1e9) for k in (1, 2, 3, 4)
    ]
    tags = t.column("tags").to_pylist()
    assert (dict(tags[0]) if tags[0] is not None else {}) == {"a": "b"}
    for tg in tags[1:]:
        assert not tg  # empty/None


def test_encode_packed_uvarints_rejects_negative():
    with pytest.raises(ValueError):
        encode_packed_uvarints(np.array([1, -2, 3], dtype=np.int64))
    with pytest.raises(ValueError):
        encode_packed_uvarints([5, -1])  # tiny input → scalar path
    # zigzag path still handles negatives fine
    assert len(encode_packed_svarints(np.arange(-50, 50))) > 0
    assert zigzag_encode(-1) == 1
