"""RAW / BITPACK / FOR codecs.

- RAW: int32 little-endian bytes, the never-worse-than-4B/token fallback the
  chooser keeps when no codec beats the threshold (semantics of the
  reference's keep-iff-ratio-beats-threshold guard,
  /root/reference/rle_array/autoconversion.py:93-99).
- BITPACK: pack each token into ceil(log2(vmax+1)) bits (base 0).
- FOR: frame-of-reference — subtract the block min, then bit-pack the
  residuals; wins on narrow-but-offset value ranges.
"""

from __future__ import annotations

import struct

import numpy as np

from rle_array_spark.codecs.bitpack import bit_width, pack_bits, packed_nbytes, unpack_bits
from rle_array_spark.codecs.core import TOKEN_DTYPE, BlockStats, Codec, check_tokens, struct_format

BITPACK_HEADER = np.dtype([("width", "u1")])
FOR_HEADER = np.dtype([("base", "<i8"), ("width", "u1")])
_BITPACK = struct_format(BITPACK_HEADER)
_FOR = struct_format(FOR_HEADER)


class RawCodec(Codec):
    name = "raw"

    def encode(self, values: np.ndarray) -> bytes:
        return check_tokens(values).astype(TOKEN_DTYPE).tobytes()

    def decode(self, payload, n: int) -> np.ndarray:
        return np.frombuffer(payload, dtype=TOKEN_DTYPE, count=n).astype(np.int32)

    def estimate_size(self, stats: BlockStats) -> int:
        return stats.raw_bytes


class BitpackCodec(Codec):
    """Header: width:uint8. Then packed values."""

    name = "bitpack"

    def encode(self, values: np.ndarray) -> bytes:
        v = check_tokens(values)
        width = bit_width(int(v.max())) if v.size else 0
        return struct.pack(_BITPACK, width) + pack_bits(v, width)

    def decode(self, payload, n: int) -> np.ndarray:
        buf = memoryview(payload)
        (width,) = struct.unpack_from(_BITPACK, buf, 0)
        return unpack_bits(buf[BITPACK_HEADER.itemsize :], n, width).astype(np.int32)

    def estimate_size(self, stats: BlockStats) -> int:
        return BITPACK_HEADER.itemsize + packed_nbytes(stats.n, bit_width(stats.vmax))


class ForCodec(Codec):
    """Frame-of-reference. Header: base:int64, width:uint8. Then packed residuals."""

    name = "for"

    def encode(self, values: np.ndarray) -> bytes:
        v = check_tokens(values)
        base = int(v.min()) if v.size else 0
        width = bit_width(int(v.max()) - base) if v.size else 0
        header = struct.pack(_FOR, base, width)
        return header + pack_bits(v.astype(np.int64) - base, width)

    def decode(self, payload, n: int) -> np.ndarray:
        buf = memoryview(payload)
        base, width = struct.unpack_from(_FOR, buf, 0)
        residuals = unpack_bits(buf[FOR_HEADER.itemsize :], n, width)
        return (residuals.astype(np.int64) + base).astype(np.int32)

    def estimate_size(self, stats: BlockStats) -> int:
        return FOR_HEADER.itemsize + packed_nbytes(stats.n, bit_width(stats.vmax - stats.vmin))
