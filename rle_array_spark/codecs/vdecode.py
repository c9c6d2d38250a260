"""Vectorized multi-row decode: decode a whole Arrow batch of encoded blocks
with a constant number of NumPy calls per (codec, bit-width) group instead of
per row.

Rows are grouped by codec, headers are parsed with one structured-dtype view
per group, and all packed streams of equal bit width are unpacked in a single
``np.unpackbits`` pass over a gathered byte region. The per-row payload
format is UNCHANGED — this is a reader-side fast path over the exact same
self-contained payloads ``Codec.decode`` reads, and it must stay bit-identical
to the per-row path (differential-tested in tests/test_vdecode.py, the same
oracle pattern the reference uses for its JIT/non-JIT kernel pairs,
/root/reference/tests/test_algorithms.py:29-47).

Measured regime (this matters — the engine dispatches on it, see
engine.VECTORIZED_DECODE_MAX_MEAN_TOKENS): per-row NumPy decode is
fixed-overhead-bound only for tiny blocks (≲64 tokens); there this path wins
~1.3×. For ≥~128-token blocks the per-row kernels already run at memory
bandwidth and the segment-index gathers here (8-byte indices moving 1-byte
data) cost more than the call overhead they remove, losing up to 2.5×. So
this module serves the many-tiny-blocks shape (short documents, metadata
streams) and is NOT the default decode path.

NGRAM rows fall back to per-row decode (the grammar expansion loop has
data-dependent depth); they are a minority of blocks by construction (the
chooser only picks NGRAM when it beats every vectorizable codec).
"""

from __future__ import annotations

import math

import numpy as np

from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.bitpack import packed_nbytes
from rle_array_spark.codecs.dictionary import HEADER as _DICT_HDR
from rle_array_spark.codecs.rle import HEADER as _RLE_HDR
from rle_array_spark.codecs.simple import BITPACK_HEADER as _BP_HDR
from rle_array_spark.codecs.simple import FOR_HEADER as _FOR_HDR

__all__ = ["decode_rows_vectorized"]

_EXACT = {8: np.dtype("<u1"), 16: np.dtype("<u2"), 32: np.dtype("<u4"), 64: np.dtype("<u8")}

# Split non-byte-aligned unpack groups above this many values so the per-bit
# gather index stays ~tens of MB regardless of batch size.
_UNPACK_CHUNK_VALUES = 1 << 19


def _grouped_arange(counts: np.ndarray) -> np.ndarray:
    """concatenate(arange(c) for c in counts), vectorized."""
    counts = counts.astype(np.int64, copy=False)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(counts)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)


def _segment_index(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Index array selecting buf[starts[j] : +counts[j]] for all j, built
    with ONE repeat + ONE arange + ONE add (the fused form of
    repeat(starts) + grouped_arange; index passes are the dominant cost of
    segment gathers on bandwidth-bound hosts)."""
    counts = counts.astype(np.int64, copy=False)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(counts)
    base = starts.astype(np.int64, copy=False) - (ends - counts)
    return np.arange(total, dtype=np.int64) + np.repeat(base, counts)


def _segment_index_strided(starts: np.ndarray, counts: np.ndarray, step: int) -> np.ndarray:
    """Like :func:`_segment_index` but element k of segment j maps to
    starts[j] + k*step (bit-base construction for packed streams)."""
    counts = counts.astype(np.int64, copy=False)
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    ends = np.cumsum(counts)
    base = starts.astype(np.int64, copy=False) - (ends - counts) * step
    return np.arange(0, total * step, step, dtype=np.int64) + np.repeat(base, counts)


def _gather_bytes(buf: np.ndarray, starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenate buf[starts[j] : starts[j]+counts[j]] for all j (uint8).

    Two regimes: for FEW, LARGE segments (the exact-width bitpack/FOR row
    gather: thousands of rows, KB payloads) a per-segment slice loop is a
    handful of memcpys, while the index path would build an 8-byte index
    per PAYLOAD BYTE (192 MB of index for a 24 MB gather) — measured 2.1×
    on the whole decode kernel (BASELINE.md round 4). For MANY, SMALL
    segments the fused repeat+arange index amortizes better than a Python
    loop; 64 B mean length is the crossover ballpark."""
    counts = counts.astype(np.int64, copy=False)
    n_seg = counts.size
    if n_seg and n_seg <= 262144:
        total = int(counts.sum())
        if total >= n_seg * 64:
            out = np.empty(total, dtype=np.uint8)
            pos = 0
            for s, c in zip(starts.tolist(), counts.tolist()):
                out[pos : pos + c] = buf[s : s + c]
                pos += c
            return out
    return buf[_segment_index(starts, counts)]


def _container_width(width: int) -> int:
    for w in (8, 16, 32, 64):
        if width <= w:
            return w
    raise ValueError(f"width {width} > 64 unsupported")


def _unpack_many(
    buf: np.ndarray, byte_starts: np.ndarray, ns: np.ndarray, width: int
) -> np.ndarray:
    """Unpack per-row packed streams that all share ``width`` bits/value.

    Row j's stream occupies packed_nbytes(ns[j], width) bytes at
    buf[byte_starts[j]]. Returns the concatenated uint64 values (sum(ns)).
    Matches :func:`bitpack.unpack_bits` row-by-row bit-identically.
    """
    ns = ns.astype(np.int64, copy=False)
    total = int(ns.sum())
    if total == 0 or width == 0:
        return np.zeros(total, dtype=np.uint64)
    exact = _EXACT.get(width)
    if exact is not None:
        itemsize = width // 8
        raw = _gather_bytes(buf, byte_starts, ns * itemsize)
        return raw.view(exact).astype(np.uint64)
    if width <= 57:
        # Absolute-bit-position window gather: value k of row j starts at
        # bit byte_starts[j]*8 + k*width of buf (bitorder little = exactly
        # the little-endian uint64 layout), and with width+shift ≤ 64 the
        # whole value fits one 8-byte window. One per-value int64 bit base
        # (repeat+arange), one (total, 8) window gather off a zero-copy
        # sliding view, then shift+mask — ~16 B/value of traffic vs the
        # ~8·width B/value bit-index matrix of the unpackbits fallback
        # (measured 3.5× on the bench corpus mix; BASELINE.md round 4).
        value_bit = _segment_index_strided(byte_starts * 8, ns, width)
        byte_off = value_bit >> 3
        shift = (value_bit & 7).astype(np.uint64)
        padded = np.concatenate((buf, np.zeros(8, dtype=np.uint8)))
        words = (
            np.lib.stride_tricks.sliding_window_view(padded, 8)[byte_off]
            .reshape(-1, 8)
            .copy()
            .view(np.uint64)
            .ravel()
        )
        return (words >> shift) & np.uint64((1 << width) - 1)
    # widths 58..63 (unreachable for int32 token payloads): the original
    # unpackbits path. Bound the per-call bit-index matrix (total × width
    # bytes) by splitting oversized groups on row boundaries; rows are
    # byte-aligned so splits are free.
    if total > _UNPACK_CHUNK_VALUES:
        if ns.size > 1:
            half = ns.size // 2
            return np.concatenate(
                (
                    _unpack_many(buf, byte_starts[:half], ns[:half], width),
                    _unpack_many(buf, byte_starts[half:], ns[half:], width),
                )
            )
        # Single oversized row: split it at byte-aligned VALUE boundaries
        # (value k starts at bit k*width; aligned when k*width % 8 == 0).
        # Sub-chunks then look like independent rows with no padding between
        # them, so the recursive multi-row path reproduces the stream exactly.
        align = 8 // math.gcd(width, 8)
        chunk = max(align, _UNPACK_CHUNK_VALUES // align * align)
        first = np.arange(0, total, chunk, dtype=np.int64)
        sub_ns = np.minimum(chunk, total - first)
        sub_starts = byte_starts[0] + first * width // 8
        return _unpack_many(buf, sub_starts, sub_ns, width)
    # Gather each row's packed bytes (rows re-align to byte boundaries in the
    # gathered buffer, mirroring the per-row padding), unpack every bit once,
    # then gather each value's `width` bits with one fancy index.
    row_bytes = (ns * width + 7) // 8
    packed = _gather_bytes(buf, byte_starts, row_bytes)
    bits = np.unpackbits(packed, bitorder="little")
    gathered_starts = np.concatenate(([0], np.cumsum(row_bytes)))[:-1] * 8
    # bit index of value v of row j: gathered_starts[j] + (arange within row)*width...
    # expand to per-bit index: base per value + arange(width)
    value_base = _segment_index_strided(gathered_starts, ns, width)
    bit_idx = value_base[:, None] + np.arange(width, dtype=np.int64)[None, :]
    value_bits = bits[bit_idx.ravel()].reshape(total, width)
    cw = _container_width(width)
    padded = np.zeros((total, cw), dtype=np.uint8)
    padded[:, :width] = value_bits
    return (
        np.packbits(padded, axis=1, bitorder="little")
        .view(_EXACT[cw])
        .ravel()
        .astype(np.uint64)
    )


def _unpack_width_groups(
    buf: np.ndarray,
    byte_starts: np.ndarray,
    ns: np.ndarray,
    widths: np.ndarray,
    out: np.ndarray,
    out_starts: np.ndarray,
) -> None:
    """Unpack rows with per-row widths into ``out`` (uint64), where row j's
    values land at out[out_starts[j] : out_starts[j]+ns[j]]. One
    :func:`_unpack_many` call per distinct width."""
    for width in np.unique(widths):
        sel = np.flatnonzero(widths == width)
        vals = _unpack_many(buf, byte_starts[sel], ns[sel], int(width))
        out[_segment_index(out_starts[sel], ns[sel])] = vals


def _headers(buf: np.ndarray, starts: np.ndarray, dtype: np.dtype) -> np.ndarray:
    """Parse a fixed-size little-endian header at each start (structured view)."""
    hdr = _gather_bytes(buf, starts, np.full(starts.size, dtype.itemsize, dtype=np.int64))
    return hdr.view(dtype)


# ---------------------------------------------------------------------------
# Per-codec group decoders: write into out[out_starts[j] : +ns[j]] per row.
# ---------------------------------------------------------------------------

def _decode_raw(buf, starts, lens, ns, out, out_starts):
    vals = _gather_bytes(buf, starts, ns * 4).view("<i4")
    out[_segment_index(out_starts, ns)] = vals


def _decode_bitpack(buf, starts, lens, ns, out, out_starts):
    widths = _headers(buf, starts, _BP_HDR)["width"].astype(np.int64)
    u = np.zeros(int(ns.sum()), dtype=np.uint64)
    ustarts = np.concatenate(([0], np.cumsum(ns)))[:-1]
    _unpack_width_groups(buf, starts + _BP_HDR.itemsize, ns, widths, u, ustarts)
    out[_segment_index(out_starts, ns)] = u.astype(np.int32)


def _decode_for(buf, starts, lens, ns, out, out_starts):
    hdr = _headers(buf, starts, _FOR_HDR)
    u = np.zeros(int(ns.sum()), dtype=np.uint64)
    ustarts = np.concatenate(([0], np.cumsum(ns)))[:-1]
    widths = hdr["width"].astype(np.int64)
    _unpack_width_groups(buf, starts + _FOR_HDR.itemsize, ns, widths, u, ustarts)
    vals = (u.astype(np.int64) + np.repeat(hdr["base"], ns)).astype(np.int32)
    out[_segment_index(out_starts, ns)] = vals


def _decode_rle(buf, starts, lens, ns, out, out_starts):
    hdr = _headers(buf, starts, _RLE_HDR)
    n_runs = hdr["n_runs"].astype(np.int64)
    vwidths = hdr["vwidth"].astype(np.int64)
    lwidths = hdr["lwidth"].astype(np.int64)
    total_runs = int(n_runs.sum())
    run_starts = np.concatenate(([0], np.cumsum(n_runs)))[:-1]

    vbytes = np.array(
        [packed_nbytes(int(r), int(w)) for r, w in zip(n_runs, vwidths)], dtype=np.int64
    )
    rv = np.zeros(total_runs, dtype=np.uint64)
    _unpack_width_groups(buf, starts + _RLE_HDR.itemsize, n_runs, vwidths, rv, run_starts)
    run_values = (rv.astype(np.int64) + np.repeat(hdr["vbase"], n_runs)).astype(np.int32)

    rl = np.zeros(total_runs, dtype=np.uint64)
    _unpack_width_groups(buf, starts + _RLE_HDR.itemsize + vbytes, n_runs, lwidths, rl, run_starts)
    run_lengths = rl.astype(np.int64) + 1

    decoded = np.repeat(run_values, run_lengths)
    # Per-row lengths must reconstruct exactly n tokens (corruption guard,
    # same check as RleCodec.decode). Rows without runs must decode to 0.
    ends = np.cumsum(run_lengths)
    cum_ns = np.cumsum(ns)
    nz = np.flatnonzero(n_runs)
    row_ends = ends[(np.cumsum(n_runs) - 1)[nz]] if total_runs else np.zeros(0, dtype=np.int64)
    if not np.array_equal(row_ends, cum_ns[nz]) or ns[n_runs == 0].any():
        raise ValueError("rle decode length mismatch in vectorized path")
    out[_segment_index(out_starts, ns)] = decoded


def _decode_dict(buf, starts, lens, ns, out, out_starts):
    hdr = _headers(buf, starts, _DICT_HDR)
    card = hdr["card"].astype(np.int64)
    dwidths = hdr["dwidth"].astype(np.int64)
    cwidths = hdr["cwidth"].astype(np.int64)
    total_card = int(card.sum())
    tstarts = np.concatenate(([0], np.cumsum(card)))[:-1]

    tbytes = np.array(
        [packed_nbytes(int(c), int(w)) for c, w in zip(card, dwidths)], dtype=np.int64
    )
    tu = np.zeros(total_card, dtype=np.uint64)
    _unpack_width_groups(buf, starts + _DICT_HDR.itemsize, card, dwidths, tu, tstarts)
    tables = (tu.astype(np.int64) + np.repeat(hdr["dbase"], card)).astype(np.int32)

    cu = np.zeros(int(ns.sum()), dtype=np.uint64)
    custarts = np.concatenate(([0], np.cumsum(ns)))[:-1]
    _unpack_width_groups(buf, starts + _DICT_HDR.itemsize + tbytes, ns, cwidths, cu, custarts)
    codes = cu.astype(np.int64) + np.repeat(tstarts, ns)

    out[_segment_index(out_starts, ns)] = tables[codes]


_GROUP_DECODERS = {
    "raw": _decode_raw,
    "bitpack": _decode_bitpack,
    "for": _decode_for,
    "rle": _decode_rle,
    "dict": _decode_dict,
}


def decode_rows_vectorized(
    buf: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    codecs: list[str],
    ns: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a batch of payloads laid out in one uint8 buffer.

    buf       — contiguous byte buffer holding every payload
    starts/lens — per-row payload span within buf
    codecs    — per-row codec name
    ns        — per-row decoded token count

    Returns (flat int32 values, int64 offsets of len(rows)+1) — the same
    concatenation per-row ``Codec.decode`` would produce.
    """
    starts = starts.astype(np.int64, copy=False)
    lens = lens.astype(np.int64, copy=False)
    ns = ns.astype(np.int64, copy=False)
    offsets = np.concatenate(([0], np.cumsum(ns)))
    out = np.empty(int(offsets[-1]), dtype=np.int32)
    out_starts = offsets[:-1]

    # Map names to small ints once (NumPy string comparison over tens of
    # thousands of rows costs more than the decode itself).
    name_ids: dict[str, int] = {}
    codec_ids = np.fromiter(
        (name_ids.setdefault(c, len(name_ids)) for c in codecs),
        dtype=np.int32,
        count=len(codecs),
    )
    for codec, cid in name_ids.items():
        sel = np.flatnonzero(codec_ids == cid)
        fn = _GROUP_DECODERS.get(str(codec))
        if fn is not None:
            fn(buf, starts[sel], lens[sel], ns[sel], out, out_starts[sel])
        elif str(codec) == "ngram" and sel.size > 1:
            # fused group expansion (ngram.decode_group): one vectorized
            # grammar-expansion loop for every ngram row in the batch
            from rle_array_spark.codecs.ngram import decode_group

            g = decode_group(
                # contiguous read-only views — no per-payload copy
                [
                    memoryview(buf[int(starts[j]) : int(starts[j] + lens[j])])
                    for j in sel
                ],
                ns[sel],
            )
            pos = 0
            for j in sel:
                out[out_starts[j] : out_starts[j] + ns[j]] = g[pos : pos + ns[j]]
                pos += int(ns[j])
        else:  # single ngram row + any future codec: per-row reference path
            c = CODECS[str(codec)]
            for j in sel:
                s, e = int(starts[j]), int(starts[j] + lens[j])
                out[out_starts[j] : out_starts[j] + ns[j]] = c.decode(
                    memoryview(buf[s:e].tobytes()), int(ns[j])
                )
    return out, offsets
