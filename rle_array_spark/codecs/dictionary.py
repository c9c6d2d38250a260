"""DICT codec — dictionary encoding.

Generalizes the reference's ``factorize`` (dictionary-encode run values,
/root/reference/rle_array/array.py:294-306) into a standalone codec: the
sorted unique-value table plus bit-packed codes. The dict table itself is
FOR+bit-packed (it is a sorted int array, so deltas would pack even tighter;
kept absolute-FOR for decode simplicity — the table is the minor term).
"""

from __future__ import annotations

import struct

import numpy as np

from rle_array_spark.codecs.bitpack import bit_width, pack_bits, packed_nbytes, unpack_bits
from rle_array_spark.codecs.core import BlockStats, Codec, check_tokens, struct_format

# Payload: this header, then the FOR-packed table (dwidth bits each, offset
# dbase), then the packed codes (cwidth bits each).
HEADER = np.dtype([("card", "<u4"), ("dbase", "<i8"), ("dwidth", "u1"), ("cwidth", "u1")])
_HEADER = struct_format(HEADER)
_HEADER_SIZE = HEADER.itemsize


class DictCodec(Codec):
    name = "dict"

    def encode(self, values: np.ndarray, table: np.ndarray | None = None) -> bytes:
        v = check_tokens(values)
        if table is None:
            table = np.unique(v)
        if table.size == 0:
            return self.encode_parts(table, v)
        span = int(table[-1]) - int(table[0]) + 1
        if span <= 2 * v.size:
            # Dense value range: O(span + n) inverse-lookup table beats the
            # O(n log card) searchsorted (identical codes either way for a
            # covering table). np.zeros + clip-mode take keep even a
            # MISUSED partial table deterministic and crash-free — the same
            # garbage-codes-no-crash class the searchsorted path has.
            lut = np.zeros(span, dtype=np.int64)
            lut[table - table[0]] = np.arange(table.size, dtype=np.int64)
            codes = np.take(lut, v.astype(np.int64) - int(table[0]), mode="clip")
        else:
            codes = np.searchsorted(table, v)
        return self.encode_parts(table, codes)

    def decode(self, payload, n: int) -> np.ndarray:
        table, codes = self.parts(payload, n)
        return table.astype(np.int32)[codes]

    def parts(self, payload, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(table int64 ascending-unique, codes int64) without gathering
        values — the code-domain view the compressed-domain operators read."""
        buf = memoryview(payload)
        card, dbase, dwidth, cwidth = struct.unpack_from(_HEADER, buf, 0)
        if card == 0:
            return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        off = _HEADER_SIZE
        tbytes = packed_nbytes(card, dwidth)
        # unpack_bits returns fresh uint64 arrays below 2^63: view, don't copy
        table = unpack_bits(buf[off : off + tbytes], card, dwidth).view(np.int64) + dbase
        return table, unpack_bits(buf[off + tbytes :], n, cwidth).view(np.int64)

    def encode_parts(self, table: np.ndarray, codes: np.ndarray) -> bytes:
        """Build a payload from a SORTED-UNIQUE int table + codes —
        byte-identical to ``encode(table[codes])`` when every entry is
        referenced, without materializing the values."""
        card = int(table.size)
        if card == 0:
            return struct.pack(_HEADER, 0, 0, 0, 0)
        dbase = int(table[0])
        dwidth = bit_width(int(table[-1]) - dbase)
        cwidth = bit_width(card - 1)
        return (
            struct.pack(_HEADER, card, dbase, dwidth, cwidth)
            + pack_bits(table.astype(np.int64) - dbase, dwidth)
            + pack_bits(codes, cwidth)
        )

    def estimate_size(self, stats: BlockStats) -> int:
        if stats.n == 0:
            return _HEADER_SIZE
        dwidth = bit_width(stats.vmax - stats.vmin)
        cwidth = bit_width(max(stats.cardinality - 1, 0))
        return (
            _HEADER_SIZE
            + packed_nbytes(stats.cardinality, dwidth)
            + packed_nbytes(stats.n, cwidth)
        )
