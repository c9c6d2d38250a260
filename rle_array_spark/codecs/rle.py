"""RLE codec — the generalization of the reference's core data model.

The reference stores (run values: original dtype, run end positions: int64)
(/root/reference/rle_array/array.py:176-177, types.py:7), i.e. 12 B/run for
int32 data. We store FOR+bit-packed run values and bit-packed (length-1)
deltas instead of absolute end positions, which strictly beats the
reference's 12 B/run for every block.

Kernel semantics mirror the reference:
- change detection `values[1:] != values[:-1]` → run boundaries
  (compress, /root/reference/rle_array/_algorithms.py:28-59);
- decode = np.repeat(run_values, run_lengths)
  (decompress, /root/reference/rle_array/_algorithms.py:117-152);
- canonical form: no empty runs, adjacent runs differ (recompress invariant,
  /root/reference/rle_array/_algorithms.py:343-367) — guaranteed here by
  construction from the change mask.
"""

from __future__ import annotations

import struct

import numpy as np

from rle_array_spark.codecs.bitpack import bit_width, pack_bits, packed_nbytes, unpack_bits
from rle_array_spark.codecs.core import BlockStats, Codec, check_tokens, struct_format

# Payload: this header, then FOR-packed run values (vwidth bits each, offset
# vbase), then packed run lengths - 1 (lwidth bits each).
HEADER = np.dtype([("n_runs", "<u4"), ("vbase", "<i8"), ("vwidth", "u1"), ("lwidth", "u1")])
_HEADER = struct_format(HEADER)
_HEADER_SIZE = HEADER.itemsize


def split_runs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) in canonical (maximal) form."""
    n = values.size
    if n == 0:
        return values[:0], np.zeros(0, dtype=np.int64)
    boundaries = np.flatnonzero(values[1:] != values[:-1]) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [n]))
    return values[starts], (ends - starts).astype(np.int64)


def merge_runs(values: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Restore the canonical form after an operator rewrote run values or
    dropped runs: adjacent runs with equal values merge (reference
    recompress, _algorithms.py:343-367). Values compare on their bit
    pattern, so NaN runs merge and -0.0 / +0.0 stay apart, the typed
    codecs' run semantics; for integers that is plain equality."""
    if values.size > 1:
        bits = values.view(f"u{values.itemsize}")
        keep = np.concatenate(([True], bits[1:] != bits[:-1]))
        if not keep.all():
            starts = np.flatnonzero(keep)
            return values[starts], np.add.reduceat(lengths, starts)
    return values, lengths


def encode_runs(run_values: np.ndarray, run_lengths: np.ndarray) -> bytes:
    """Pack canonical runs (no empty runs, adjacent values differ) into an
    RLE payload — the direct-emit path for operators that already hold runs
    (take/gather, zip) and the tail of :meth:`RleCodec.encode`."""
    n_runs = run_values.size
    if n_runs == 0:
        return struct.pack(_HEADER, 0, 0, 0, 0)
    vbase = int(run_values.min())
    vwidth = bit_width(int(run_values.max()) - vbase)
    lwidth = bit_width(int(run_lengths.max()) - 1)  # lengths >= 1
    header = struct.pack(_HEADER, n_runs, vbase, vwidth, lwidth)
    return (
        header
        + pack_bits(run_values.astype(np.int64) - vbase, vwidth)
        + pack_bits(np.asarray(run_lengths, dtype=np.int64) - 1, lwidth)
    )


def decode_runs(payload) -> tuple[np.ndarray, np.ndarray]:
    """(run_values int32, run_lengths int64) of an RLE payload, the inverse
    of :func:`encode_runs`; the compressed-domain operators read runs here."""
    buf = memoryview(payload)
    n_runs, vbase, vwidth, lwidth = struct.unpack_from(_HEADER, buf, 0)
    if n_runs == 0:
        return np.zeros(0, dtype=np.int32), np.zeros(0, dtype=np.int64)
    off = _HEADER_SIZE
    vbytes = packed_nbytes(n_runs, vwidth)
    # unpack_bits returns fresh uint64 arrays below 2^63: view, don't copy
    run_values = (
        unpack_bits(buf[off : off + vbytes], n_runs, vwidth).view(np.int64) + vbase
    ).astype(np.int32)
    run_lengths = unpack_bits(buf[off + vbytes :], n_runs, lwidth).view(np.int64) + 1
    return run_values, run_lengths


class RleCodec(Codec):
    name = "rle"

    def encode(self, values: np.ndarray) -> bytes:
        v = check_tokens(values)
        run_values, run_lengths = split_runs(v)
        return encode_runs(run_values, run_lengths)

    def decode(self, payload, n: int) -> np.ndarray:
        out = np.repeat(*decode_runs(payload))
        if out.size != n:
            raise ValueError(f"rle decode length mismatch: {out.size} != {n}")
        return out

    def estimate_size(self, stats: BlockStats) -> int:
        if stats.n == 0:
            return _HEADER_SIZE
        vwidth = bit_width(stats.vmax - stats.vmin)
        # Length width unknown from stats; bound by the mean run length × 4
        # (lognormal-ish run lengths rarely exceed 4× the mean). Estimates
        # only rank candidates — the trial encode settles the final choice.
        mean_len = max(1, stats.n // stats.n_runs)
        lwidth = min(bit_width(mean_len * 4), bit_width(stats.n))
        return (
            _HEADER_SIZE
            + packed_nbytes(stats.n_runs, vwidth)
            + packed_nbytes(stats.n_runs, lwidth)
        )


def reference_rle_nbytes(n_runs: int, value_itemsize: int = 4) -> int:
    """Compressed size the reference would use: r × (value + int64 position)
    (/root/reference/rle_array/array.py:390-393 nbytes; types.py:7). This is
    the analytic comparison target from BASELINE.md."""
    return n_runs * (value_itemsize + 8)
