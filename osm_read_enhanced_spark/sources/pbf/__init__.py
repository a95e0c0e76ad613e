"""OSM PBF source: block scan, decode, writer, Spark reader.

Decode semantics match the reference parser's wire-truth behaviour
(SURVEY.md §1, §5.3 for the verified golden outputs). The package has
one PrimitiveBlock entity decoder, ``columnar.decode_block_arrow``,
which ``read_pbf`` / ``read_pbf_union`` run per block; ``decode.py``
holds the framing, header and count helpers around it. The canonical
mode is spec-correct; ``mode="osm-read-compat"`` reproduces the
reference OSM_Blob lazy path's string-cache off-by-one for parity
testing (SURVEY.md §5.3 policy).
"""

from .blocks import BlockMeta, scan_blocks
from .decode import decode_blob, decode_header_block
from .reader import pbf_block_index, read_pbf, read_pbf_union
from .sink import write_pbf_dataset
from .writer import write_pbf

__all__ = [
    "BlockMeta",
    "scan_blocks",
    "decode_blob",
    "decode_header_block",
    "pbf_block_index",
    "read_pbf",
    "read_pbf_union",
    "write_pbf",
    "write_pbf_dataset",
]
