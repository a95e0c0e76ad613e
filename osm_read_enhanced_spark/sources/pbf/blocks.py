"""PBF file-block index scan and payload fetch.

FileBlock framing = [4-byte BE length][BlobHeader][Blob] (reference
lib/pbfParser.js:10-19, lib/OSM_PBF_Parser_Core_Read.js:219). The scan
reads only the tiny BlobHeaders and seeks over blob payloads, producing
a block index — the Parquet-footer analogue (SURVEY.md §2.1 S1). The
reader walks it on the driver and deals the indexed blocks, not raw
byte ranges, to the decode tasks (the reference's byte-range splitter
mis-aligns mid-block and recovers heuristically,
lib/parallel-worker.js:98-102 — dealing whole blocks makes that hack
unnecessary and exact). ``read_block_payload`` is the one
truncation-guarded payload read.
"""

from __future__ import annotations

from dataclasses import dataclass

from .decode import parse_blob_header

# sanity caps mirrored from the reference
HEADER_SIZE_CAP = 64 * 1024  # reference caps at 4096 (Core_Read.js:220-224)
ELEMENT_SIZE_CAP = 64 * 1024 * 1024  # reference 32 MB (lib/nodejs/fsReader.js:25-27)


@dataclass(frozen=True, order=True)  # ordered by (path, block_id) first
class BlockMeta:
    path: str
    block_id: int
    block_type: str  # "OSMHeader" | "OSMData"
    offset: int  # byte offset of the Blob payload
    size: int  # Blob payload byte length


def scan_blocks(path: str) -> list[BlockMeta]:
    """Walk FileBlock framing, return the block index."""
    blocks: list[BlockMeta] = []
    with open(path, "rb") as f:
        block_id = 0
        while True:
            len_bytes = f.read(4)
            if len(len_bytes) < 4:
                break
            header_len = int.from_bytes(len_bytes, "big")
            if header_len <= 0 or header_len > HEADER_SIZE_CAP:
                raise ValueError(f"{path}: implausible BlobHeader size {header_len}")
            header = f.read(header_len)
            btype, datasize = parse_blob_header(header)
            if datasize < 0 or datasize > ELEMENT_SIZE_CAP:
                raise ValueError(f"{path}: implausible blob size {datasize}")
            offset = f.tell()
            blocks.append(BlockMeta(path, block_id, btype, offset, datasize))
            f.seek(offset + datasize)
            block_id += 1
    return blocks


def read_block_payload(meta: BlockMeta) -> bytes:
    """Random-access fetch of one blob payload (reference
    parser.readBlock, lib/pbfParser.js:789-835)."""
    with open(meta.path, "rb") as f:
        f.seek(meta.offset)
        data = f.read(meta.size)
    if len(data) < meta.size:
        raise ValueError(
            f"{meta.path}: truncated blob {meta.block_id} "
            f"(expected {meta.size} bytes at offset {meta.offset}, got {len(data)})"
        )
    return data
