"""OSM PBF framing and block-level decode (pure python + numpy).

This module holds what surrounds the entity decode: Blob inflate
(``decode_blob``/``decompress``), BlobHeader and OSMHeader parsing, the
value-free element count of a PrimitiveBlock, and the two decode modes.
Entities themselves are decoded by ``columnar.decode_block_arrow``, the
package's only PrimitiveBlock entity decoder.

Decode semantics grafted from the reference parser (SURVEY.md §1):

- coordinate formula ``degrees = (offset + granularity × Σdeltas) / 1e9``
  (reference README.md:120-124, lib/pbfParser.js:613-614,
  lib/OSM_Blob.js:1201-1202)
- timestamps ``Σdelta × date_granularity`` ms (lib/pbfParser.js:597,708)
- delta decode is block-local prefix sum (lib/OSM_Blob.js:1180-1205)
- relation member order preserved (reference ChangeLog:1-27)
- string table index 0 reserved empty (osmformat.proto:125-133)

``STRICT`` is the canonical wire-correct decode (matches the reference
classic parser's way/relation tags — its self-designated ground truth,
generate-pbf-reference.js:5-10, and the raw-wire goldens in
FIXTURES.md). ``COMPAT`` (``"osm-read-compat"``) reproduces the
reference OSM_Blob string-cache off-by-one (cache seeded [''] then
re-appends entry 0, lib/OSM_Blob.js:360-367): every string index
resolves one entry late, and way/relation tags come back empty
(packed-keys bug, lib/OSM_Blob.js:1328). See SURVEY.md §5.3 for the
verified goldens.
"""

from __future__ import annotations

import zlib

import numpy as np

from .proto import WT_LEN, WT_VARINT, iter_fields, zigzag_decode

STRICT = "strict"
COMPAT = "osm-read-compat"


# ---------------------------------------------------------------- Blob


def decode_blob(data: bytes) -> bytes:
    """Blob message → decompressed payload bytes.

    Accepts raw passthrough + zlib (reference Decompress layer,
    lib/OSM_PBF_Parser_Decompress.js:114-152); recognizes lzma/bzip2/
    lz4/zstd fields (lib/protobuf-blob-parser.js:84-99) and raises a
    clear error for the unsupported codecs, like the reference does.
    """
    raw = None
    payload = None
    codec = None
    for fno, wt, val in iter_fields(data):
        if fno == 1 and wt == WT_LEN:
            raw = data[val[0] : val[1]]
        elif fno == 3 and wt == WT_LEN:
            payload, codec = data[val[0] : val[1]], "zlib"
        elif fno == 4 and wt == WT_LEN:
            payload, codec = data[val[0] : val[1]], "lzma"
        elif fno == 5 and wt == WT_LEN:
            payload, codec = data[val[0] : val[1]], "bzip2"
        elif fno == 6 and wt == WT_LEN:
            payload, codec = data[val[0] : val[1]], "lz4"
        elif fno == 7 and wt == WT_LEN:
            payload, codec = data[val[0] : val[1]], "zstd"
    if raw is not None:
        return raw
    return decompress(codec, payload)


def decompress(codec: str | None, payload: bytes) -> bytes:
    """Decompress-layer capability surface, mirroring the reference's
    nodejs zlib wrapper (lib/nodejs/zlib.js — inflate + brotli): zlib is
    stdlib; zstd/lz4/brotli are import-gated (none ship in this
    environment). Brotli is reachable only through this function — the
    Blob proto has no brotli field (lib/proto/fileformat.proto:29-41),
    so like the reference's own brotli branch it is capability, not a
    wire path (COVERAGE.md D1)."""
    if codec == "zlib":
        return zlib.decompress(payload)
    if codec == "zstd":
        try:
            import zstandard  # noqa: F401  (not in this environment)

            return zstandard.ZstdDecompressor().decompress(payload)
        except ImportError as e:
            raise NotImplementedError("zstd blob: zstandard not installed") from e
    if codec == "lz4":
        try:
            import lz4.frame  # noqa: F401  (not in this environment)

            return lz4.frame.decompress(payload)
        except ImportError as e:
            raise NotImplementedError("lz4 blob: lz4 not installed") from e
    if codec == "brotli":
        try:
            import brotli  # noqa: F401  (not in this environment)

            return brotli.decompress(payload)
        except ImportError as e:
            raise NotImplementedError("brotli payload: brotli not installed") from e
    raise NotImplementedError(f"unsupported blob codec: {codec!r}")


def parse_blob_header(data: bytes) -> tuple[str, int]:
    """BlobHeader → (type, datasize)."""
    btype, datasize = "", 0
    for fno, wt, val in iter_fields(data):
        if fno == 1 and wt == WT_LEN:
            btype = data[val[0] : val[1]].decode("utf-8")
        elif fno == 3 and wt == WT_VARINT:
            datasize = val
    return btype, datasize


# ---------------------------------------------------------------- Header block


def decode_header_block(data: bytes) -> dict:
    """OSMHeader block → dict(bbox, required_features, optional_features,
    writingprogram, source)."""
    out = {
        "bbox": None,
        "required_features": [],
        "optional_features": [],
        "writingprogram": None,
        "source": None,
        # osmosis replication state (osmformat.proto:57-78; surfaced by
        # the reference header visitor, lib/pbfParser.js:323-345) — what
        # incremental planet-update pipelines resume from
        "osmosis_replication_timestamp": None,  # epoch seconds
        "osmosis_replication_sequence_number": None,
        "osmosis_replication_base_url": None,
    }
    for fno, wt, val in iter_fields(data):
        if fno == 1 and wt == WT_LEN:  # HeaderBBox, nanodegrees sint64
            bbox = {}
            names = {1: "left", 2: "right", 3: "top", 4: "bottom"}
            for f2, w2, v2 in iter_fields(data, val[0], val[1]):
                if f2 in names and w2 == WT_VARINT:
                    bbox[names[f2]] = zigzag_decode(v2) / 1e9
            out["bbox"] = bbox
        elif fno == 4 and wt == WT_LEN:
            out["required_features"].append(data[val[0] : val[1]].decode("utf-8"))
        elif fno == 5 and wt == WT_LEN:
            out["optional_features"].append(data[val[0] : val[1]].decode("utf-8"))
        elif fno == 16 and wt == WT_LEN:
            out["writingprogram"] = data[val[0] : val[1]].decode("utf-8")
        elif fno == 17 and wt == WT_LEN:
            out["source"] = data[val[0] : val[1]].decode("utf-8")
        elif fno == 32 and wt == WT_VARINT:
            out["osmosis_replication_timestamp"] = val
        elif fno == 33 and wt == WT_VARINT:
            out["osmosis_replication_sequence_number"] = val
        elif fno == 34 and wt == WT_LEN:
            out["osmosis_replication_base_url"] = data[val[0] : val[1]].decode("utf-8")
    return out


# ---------------------------------------------------------------- Primitive block


def count_block_elements(data: bytes) -> tuple[int, int, int, int]:
    """Exact (n_nodes, n_ways, n_relations, n_changesets) WITHOUT value
    decode.

    Dense-node count = number of varint terminator bytes in the packed
    id field (the reference's fast-count trick, Decode:595-631) — one
    numpy comparison, no delta/tag/coordinate decode; ways/relations/
    changesets count message occurrences only. Changesets (PrimitiveGroup
    field 5, osmformat.proto:116-122) are counted — not silently invisible
    — even though their payload is not decoded (spec-gap parity with the
    reference, which also skips them)."""
    n_nodes = n_ways = n_rels = n_changesets = 0
    for fno, wt, val in iter_fields(data):
        if fno != 2 or wt != WT_LEN:
            continue
        for gf, gw, gv in iter_fields(data, val[0], val[1]):
            if gw != WT_LEN:
                continue
            if gf == 1:
                n_nodes += 1
            elif gf == 2:
                for df, dw, dv in iter_fields(data, gv[0], gv[1]):
                    if df == 1 and dw == WT_LEN:
                        buf = np.frombuffer(data[dv[0] : dv[1]], dtype=np.uint8)
                        n_nodes += int((buf < 0x80).sum())
            elif gf == 3:
                n_ways += 1
            elif gf == 4:
                n_rels += 1
            elif gf == 5:
                n_changesets += 1
    return n_nodes, n_ways, n_rels, n_changesets
