"""Typed codec kernels: RLE / DICT / RAW over any fixed-width dtype, with
in-band null support.

Generalizes the int32 token codecs to the reference's full dtype surface —
bool, all int widths, float32/64 with NaN, datetime64 with NaT, nullable
anything (/root/reference/rle_array/dtype.py:11-27; float/NaN round-trip
tests /root/reference/tests/test_algorithms.py:84-133,300-308).

Design decisions (Spark-first, not a port):

* **Bit-pattern equality.** Run detection and dictionary building operate
  on the value's *bit view* (``<u1/u2/u4/u8`` by itemsize), so NaN runs
  collapse like the reference's ``null == null`` change detection
  (_algorithms.py:155-171) and ``-0.0``/``+0.0`` stay distinct — the
  round-trip contract is BIT-identity, strictly stronger than value
  equality.
* **In-band validity.** A null mask travels inside the payload as an RLE
  over the validity bits (first-bit + run ends); null slots are
  forward-filled in the body so they extend the previous run instead of
  breaking it — the typed analog of the reference's null runs.
* **Self-contained payloads.** dtype tag, flags, null section and all
  tables live in the payload; any executor decodes any block with no
  side-channel state (same contract as codecs/core.py).

Layout (little-endian)::

    u8  dtype_code          (see DTYPE_CODES)
    u8  flags               (bit0: has null section)
    [null section: u32 n_mask_runs, u8 first_valid, u32 run_ends × n]
    codec body over all n slots (nulls forward-filled)
      trle : u32 n_runs, u32 run_ends × n_runs, raw run_values (n_runs × w)
      tdict: u32 k, raw table (k × w), u8 width, bit-packed codes
      traw : raw values (n × w)
"""

from __future__ import annotations

import struct

import numpy as np

from rle_array_spark.codecs import bitpack
from rle_array_spark.codecs.core import _read_struct
from rle_array_spark.codecs.rle import merge_runs, split_runs

DTYPE_CODES: dict[int, np.dtype] = {
    0: np.dtype("<i4"),
    1: np.dtype("<i8"),
    2: np.dtype("<f8"),
    3: np.dtype("<f4"),
    4: np.dtype("?"),
    5: np.dtype("<i2"),
    6: np.dtype("i1"),
    7: np.dtype("<u1"),
    8: np.dtype("<M8[ns]"),
    9: np.dtype("<m8[ns]"),
    10: np.dtype("<M8[us]"),
    11: np.dtype("<u4"),
    12: np.dtype("<u8"),
}
_CODE_BY_DTYPE = {dt: c for c, dt in DTYPE_CODES.items()}

_BIT_VIEWS = {1: np.dtype("<u1"), 2: np.dtype("<u2"), 4: np.dtype("<u4"), 8: np.dtype("<u8")}

TYPED_CODECS = ("trle", "tdict", "traw")


def dtype_code(dtype: np.dtype) -> int:
    try:
        return _CODE_BY_DTYPE[np.dtype(dtype)]
    except KeyError:
        raise ValueError(f"unsupported typed-codec dtype {dtype!r}") from None


def _bit_view(values: np.ndarray) -> np.ndarray:
    return values.view(_BIT_VIEWS[values.dtype.itemsize])


def _fill_nulls(bv: np.ndarray, valid: np.ndarray) -> np.ndarray:
    """Forward-fill null slots on the bit view (leading nulls → 0) so runs
    extend across nulls instead of breaking at them."""
    if valid.all():
        return bv
    idx = np.where(valid, np.arange(bv.size, dtype=np.int64), -1)
    np.maximum.accumulate(idx, out=idx)
    out = bv[np.maximum(idx, 0)]
    out[idx < 0] = 0
    return out


def _mask_runs(valid: np.ndarray) -> tuple[int, np.ndarray]:
    change = np.flatnonzero(valid[1:] != valid[:-1]) + 1
    ends = np.append(change, valid.size).astype(np.uint32)
    return int(valid[0]), ends


def _encode_nulls(valid: np.ndarray | None) -> bytes:
    """u8 flags (bit0: has null section) [+ u32 n_mask_runs, u8
    first_valid, u32 run_ends × n] — the null-mask layout both the typed
    payload (after its dtype byte) and the string payload (at offset 0) use."""
    if valid is None:
        return b"\x00"
    first, ends = _mask_runs(valid)
    return struct.pack("<BIB", 1, ends.size, first) + ends.astype("<u4").tobytes()


def _null_runs(buf: memoryview, off: int):
    """Read the flags byte + null section at ``off`` WITHOUT expanding the
    mask → (first_valid | None, mask_run_ends | None, body offset)."""
    (flags,), off = _read_struct("<B", buf, off)
    if not flags & 1:
        return None, None, off
    (n_runs, first), off = _read_struct("<IB", buf, off)
    ends = np.frombuffer(buf, dtype="<u4", count=n_runs, offset=off)
    return int(first), ends, off + 4 * n_runs


def _read_nulls(buf: memoryview, off: int):
    """→ (valid bool mask | None when there is no null section, body offset)."""
    first, ends, off = _null_runs(buf, off)
    if ends is None:
        return None, off
    # alternating-run expansion, fully vectorized
    run_bits = (np.arange(ends.size) % 2 == 0) == bool(first)
    return np.repeat(run_bits, _lengths(ends)), off


def _encode_header(code: int, valid: np.ndarray | None) -> bytes:
    return struct.pack("<B", code) + _encode_nulls(valid)


def _header_mask_runs(buf: memoryview):
    """(dtype, first_valid | None, mask_run_ends | None, body_offset)."""
    (code,), off = _read_struct("<B", buf, 0)
    return (DTYPE_CODES[code], *_null_runs(buf, off))


def _decode_header(buf: memoryview, n: int):
    (code,), off = _read_struct("<B", buf, 0)
    valid, off = _read_nulls(buf, off)
    if valid is not None and valid.all():
        valid = None
    return DTYPE_CODES[code], valid, off


def _trle_body(run_vals: np.ndarray, run_lens: np.ndarray) -> bytes:
    """trle body: u32 n_runs, u32 run_ends × n_runs, raw run values."""
    ends = np.cumsum(run_lens).astype("<u4")
    return struct.pack("<I", ends.size) + ends.tobytes() + run_vals.tobytes()


def _read_trle(buf: memoryview, off: int, dtype: np.dtype):
    """→ (run_ends <u4, run values as the bit view) of a trle body at ``off``."""
    (n_runs,), off = _read_struct("<I", buf, off)
    ends = np.frombuffer(buf, dtype="<u4", count=n_runs, offset=off)
    bits = _BIT_VIEWS[dtype.itemsize]
    return ends, np.frombuffer(buf, dtype=bits, count=n_runs, offset=off + 4 * n_runs)


def _read_tdict(buf: memoryview, off: int, dtype: np.dtype, n: int):
    """→ (table as the bit view, codes) of a tdict body at ``off``: u32 k,
    raw table (k × w), u8 width, bit-packed codes."""
    (k,), off = _read_struct("<I", buf, off)
    table = np.frombuffer(buf, dtype=_BIT_VIEWS[dtype.itemsize], count=k, offset=off)
    (width,), off = _read_struct("<B", buf, off + k * dtype.itemsize)
    if not width:
        return table, np.zeros(n, dtype=np.int64)
    return table, bitpack.unpack_bits(buf[off:], n, width)


def _lengths(ends: np.ndarray) -> np.ndarray:
    """Run lengths (int64) from run ends."""
    return np.diff(ends.astype(np.int64), prepend=0)


def _normalize(values: np.ndarray, valid: np.ndarray | None):
    v = np.ascontiguousarray(values)
    code = dtype_code(v.dtype)
    if valid is not None:
        valid = np.ascontiguousarray(valid, dtype=bool)
        if valid.size != v.size:
            raise ValueError("validity mask length mismatch")
        if valid.all():
            valid = None
    bv = _bit_view(v)
    if valid is not None:
        bv = _fill_nulls(bv, valid)
    return code, bv, valid


def encode_trle(values: np.ndarray, valid: np.ndarray | None = None) -> bytes:
    code, bv, valid = _normalize(values, valid)
    return _encode_header(code, valid) + _trle_body(*split_runs(bv))


def encode_tdict(values: np.ndarray, valid: np.ndarray | None = None) -> bytes:
    code, bv, valid = _normalize(values, valid)
    table, codes = np.unique(bv, return_inverse=True)
    width = bitpack.bit_width(int(table.size - 1)) if table.size > 1 else 0
    packed = bitpack.pack_bits(codes.astype(np.int64), width) if width else b""
    return (
        _encode_header(code, valid)
        + struct.pack("<I", table.size)
        + table.tobytes()
        + struct.pack("<B", width)
        + packed
    )


def encode_traw(values: np.ndarray, valid: np.ndarray | None = None) -> bytes:
    code, bv, valid = _normalize(values, valid)
    return _encode_header(code, valid) + bv.tobytes()


def decode_typed(name: str, payload: bytes | memoryview, n: int):
    """→ (values ndarray of the tagged dtype, valid bool mask | None)."""
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        out = np.repeat(run_vals, _lengths(ends))
    elif name == "tdict":
        table, codes = _read_tdict(buf, off, dtype, n)
        out = table[codes]
    elif name == "traw":
        out = np.frombuffer(buf, dtype=_BIT_VIEWS[dtype.itemsize], count=n, offset=off).copy()
    else:
        raise ValueError(f"unknown typed codec {name!r}")
    if out.size != n:
        raise ValueError(f"typed decode length mismatch: {out.size} != {n}")
    return np.ascontiguousarray(out).view(dtype), valid


def _valid_prefix_counts(valid: np.ndarray | None, positions: np.ndarray, n: int) -> np.ndarray:
    """#valid slots in [0, p) for each p in ``positions`` without assuming
    anything about the mask's run structure (O(n) bool scan, like the dict
    code scan in reduce.payload_stats — never the values)."""
    if valid is None:
        return positions.astype(np.int64)
    prefix = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))
    return prefix[positions]


def typed_payload_stats(name: str, payload, n: int):
    """(n_runs, null_count, vmin, vmax, vsum) of one typed block WITHOUT
    decoding the array — compressed-domain for trle (run values + per-run
    valid counts) and tdict (table × valid code counts); stream decode for
    traw. Skipna semantics: nulls AND float NaNs are excluded from
    min/max/sum, matching the reference's masked reductions
    (/root/reference/rle_array/array.py:463-513). Returns floats (None when
    no valid finite value exists); the audit primitive for typed blocks
    written by other jobs."""
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    null_count = 0 if valid is None else int(n - valid.sum())
    if n == 0:
        return 0, 0, None, None, None

    def _reduce(vals: np.ndarray, weights: np.ndarray):
        """min/max/weighted-sum over numeric view, skipping NaN."""
        numeric = vals.astype(np.float64) if vals.dtype.kind in "fiub" else vals.view(
            "<i8"
        ).astype(np.float64)
        keep = weights > 0
        if vals.dtype.kind == "f":
            keep &= ~np.isnan(numeric)
        if not keep.any():
            return None, None, None
        kv, kw = numeric[keep], weights[keep]
        return float(kv.min()), float(kv.max()), float(np.dot(kv, kw))

    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        bounds = np.concatenate(([0], ends.astype(np.int64)))
        vcounts = np.diff(_valid_prefix_counts(valid, bounds, n))
        vmin, vmax, vsum = _reduce(run_vals.view(dtype), vcounts)
        return int(ends.size), null_count, vmin, vmax, vsum
    if name == "tdict":
        table, codes = _read_tdict(buf, off, dtype, n)
        table, codes = table.view(dtype), codes.astype(np.int64)
        k = table.size
        counts = np.bincount(
            codes if valid is None else codes[valid], minlength=max(k, 1)
        ).astype(np.int64)
        n_runs = 1 + int(np.count_nonzero(codes[1:] != codes[:-1]))
        vmin, vmax, vsum = _reduce(table, counts[: max(k, 1)])
        return n_runs, null_count, vmin, vmax, vsum
    vals, _ = decode_typed(name, buf, n)
    bv = _bit_view(np.ascontiguousarray(vals))
    n_runs = 1 + int(np.count_nonzero(bv[1:] != bv[:-1]))
    weights = np.ones(n, dtype=np.int64) if valid is None else valid.astype(np.int64)
    vmin, vmax, vsum = _reduce(vals, weights)
    return n_runs, null_count, vmin, vmax, vsum


def _valid_prefix_from_runs(first: int, ends: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """#valid slots in [0, p) for each p, from the MASK RUNS alone —
    O(r_mask + len(positions) log r_mask), never the expanded mask."""
    ends64 = ends.astype(np.int64)
    lens = _lengths(ends)
    bits = (np.arange(ends.size) % 2 == 0) == bool(first)
    cum = np.concatenate(([0], np.cumsum(lens * bits)))
    starts = np.concatenate(([0], ends64[:-1]))
    j = np.searchsorted(ends64, positions, side="right")
    j = np.minimum(j, ends.size - 1)
    return cum[j] + (positions - starts[j]) * bits[j]


def fillna_typed(
    name: str, payload, n: int, value=None, method: str | None = None
) -> tuple[str, bytes]:
    """Compressed-domain fillna (reference array.py:902-911):

    * ``method='ffill'`` rewrites the HEADER only — the body already stores
      nulls forward-filled, so the payload bytes after the null section are
      untouched; only a leading null run (no value to fill from) stays null.
    * ``value=`` on trle works the union grid of body runs × mask runs
      (O(r_body + r_mask)), never the expanded array; tdict/traw re-encode
      the filled values under the same codec.
    * ``method='bfill'`` is a decode fallback (the body's fill direction is
      forward, so backward values aren't present in the run domain).
    """
    if (value is None) == (method is None):
        raise ValueError("fillna: exactly one of value / method required")
    if method not in (None, "ffill", "bfill"):
        raise ValueError(f"fillna: unknown method {method!r}")
    buf = memoryview(payload)
    dtype, first, mask_ends, off = _header_mask_runs(buf)
    if mask_ends is None:
        return name, bytes(payload)  # no nulls: identity
    code = dtype_code(dtype)
    body = bytes(buf[off:])
    if method == "ffill":
        if first == 0:
            lead = int(mask_ends[0])
            if lead >= n:  # all-null: nothing to fill from
                return name, bytes(payload)
            new_valid = np.zeros(n, dtype=bool)
            new_valid[lead:] = True
            return name, _encode_header(code, new_valid) + body
        return name, _encode_header(code, None) + body
    if method == "bfill":
        vals, valid = decode_typed(name, buf, n)
        out = vals.copy()
        idx = np.where(valid, np.arange(n, dtype=np.int64), n)
        np.minimum.accumulate(idx[::-1], out=idx[::-1])
        fillable = idx < n
        out[fillable] = vals[idx[fillable]]
        rem = valid | fillable  # trailing nulls stay null
        rem_mask = None if rem.all() else rem
        enc = {"trle": encode_trle, "tdict": encode_tdict, "traw": encode_traw}[name]
        return name, enc(out, rem_mask)
    fill = np.array([value], dtype=dtype)
    fill_bit = _bit_view(np.ascontiguousarray(fill))[0]
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        # union grid of body-run and mask-run boundaries
        grid = np.union1d(ends.astype(np.int64), mask_ends.astype(np.int64))
        bi = np.searchsorted(ends.astype(np.int64), grid, side="left")
        mi = np.searchsorted(mask_ends.astype(np.int64), grid, side="left")
        seg_vals = run_vals[np.minimum(bi, ends.size - 1)].copy()
        seg_valid = ((mi % 2 == 0) == bool(first))
        seg_vals[~seg_valid] = fill_bit
        body = _trle_body(*merge_runs(seg_vals, _lengths(grid)))
        return "trle", _encode_header(code, None) + body
    vals, valid = decode_typed(name, buf, n)
    out = vals.copy()
    out[~valid] = fill[0]
    enc = {"tdict": encode_tdict, "traw": encode_traw}[name]
    return name, enc(out, None)


def dropna_typed(name: str, payload, n: int) -> tuple[str, bytes, int]:
    """Compressed-domain dropna (reference _algorithms.py:174-199: shift
    positions by dropped lengths): for trle, each run's new length is its
    count of valid slots — computed from the MASK RUNS via prefix counts,
    O(r_body + r_mask); zero-length runs drop and newly-adjacent equal runs
    merge, so the result is canonical. tdict/traw filter decoded values.
    Returns (codec, payload, new_n)."""
    buf = memoryview(payload)
    dtype, first, mask_ends, off = _header_mask_runs(buf)
    if mask_ends is None:
        return name, bytes(payload), n
    code = dtype_code(dtype)
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        bounds = np.concatenate(([0], ends.astype(np.int64)))
        prefix = _valid_prefix_from_runs(first, mask_ends, bounds)
        new_lens = np.diff(prefix)
        keep = new_lens > 0
        body = _trle_body(*merge_runs(run_vals[keep], new_lens[keep]))
        return "trle", _encode_header(code, None) + body, int(prefix[-1])
    vals, valid = decode_typed(name, buf, n)
    out = np.ascontiguousarray(vals[valid])
    enc = {"tdict": encode_tdict, "traw": encode_traw}[name]
    return name, enc(out, None), int(out.size)


def shift_typed(name: str, payload, n: int, periods: int) -> tuple[str, bytes]:
    """Compressed-domain shift (reference array.py:875-900): positions move
    by ``periods``; vacated slots become null. trle works the run domain —
    run ends shift and clip, the vacated stretch becomes a null run whose
    body bits follow the payload's forward-fill convention — so the result
    is byte-identical to encoding the shifted array from scratch.
    tdict/traw decode, shift, re-encode under the same codec."""
    if periods == 0 or n == 0:
        return name, bytes(payload)
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    p = periods
    if abs(p) >= n:
        all_null = np.zeros(n, dtype=bool)
        enc = {"trle": encode_trle, "tdict": encode_tdict, "traw": encode_traw}[name]
        return name, enc(np.zeros(n, dtype=dtype), all_null)
    old_valid = np.ones(n, dtype=bool) if valid is None else valid
    new_valid = np.zeros(n, dtype=bool)
    if p > 0:
        new_valid[p:] = old_valid[: n - p]
    else:
        new_valid[: n + p] = old_valid[-p:]
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        ends = ends.astype(np.int64)
        if p > 0:
            # leading null stretch forward-fills to 0-bits, then the old
            # runs shifted right and clipped at n
            new_ends = np.concatenate(([p], np.minimum(ends + p, n)))
            new_vals = np.concatenate((run_vals[:1] * 0, run_vals))
            keep = np.concatenate(([True], np.diff(new_ends) > 0))
            new_vals, new_ends = new_vals[keep], new_ends[keep]
        else:
            # drop the first |p| positions; the trailing null stretch
            # forward-fills with the LAST value, extending the final run
            shifted = ends + p  # may start <= 0
            keep = shifted > 0
            new_ends = shifted[keep]
            new_vals = run_vals[keep].copy()
            new_ends[-1] = n  # trailing nulls extend the last run
            # canonical leading-null convention: slots before the first
            # valid position forward-fill to 0-bits, not the old value
            lead = int(np.argmax(new_valid)) if new_valid.any() else n
            if lead > 0:
                tail_keep = new_ends > lead
                new_ends = np.concatenate(([lead], new_ends[tail_keep]))
                new_vals = np.concatenate((new_vals[:1] * 0, new_vals[tail_keep]))
        mask = None if new_valid.all() else new_valid
        body = _trle_body(*merge_runs(new_vals, _lengths(new_ends)))
        return "trle", _encode_header(dtype_code(dtype), mask) + body
    vals, _ = decode_typed(name, buf, n)
    out = np.empty(n, dtype=vals.dtype)
    if p > 0:
        out[p:] = vals[: n - p]
        out[:p] = vals[0]  # overwritten by the mask convention on encode
    else:
        out[: n + p] = vals[-p:]
        out[n + p :] = vals[-1]
    enc = {"tdict": encode_tdict, "traw": encode_traw}[name]
    return name, enc(out, None if new_valid.all() else new_valid)


def cast_typed(name: str, payload, n: int, to_dtype) -> tuple[str, bytes]:
    """Cross-dtype cast of one typed block WITHOUT decoding the array where
    the codec allows it — the reference's ``astype`` runs values RLE→RLE
    (/root/reference/rle_array/array.py:445-453,670-681; dtype preservation
    asserted in tests/test_astype.py:15-30):

    * trle: only the ``n_runs`` RUN VALUES are cast; adjacent runs that
      collapse under the cast (e.g. two float64s rounding to one float32)
      are canonically merged, so the result is byte-identical to encoding
      the cast array from scratch.
    * tdict / traw: decode → ``.astype`` → re-encode under the same codec
      (np.unique canonicalizes a collapsed dict table).

    Numpy cast semantics (float→int truncates toward zero); the validity
    mask is carried unchanged — the body's forward-filled null slots stay
    forward-filled because a cast is elementwise."""
    to_dtype = np.dtype(to_dtype)
    to_code = dtype_code(to_dtype)  # raises on unsupported targets
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    if to_dtype == dtype:
        return name, bytes(payload)
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        new_vals = run_vals.view(dtype).astype(to_dtype)
        body = _trle_body(*merge_runs(new_vals, _lengths(ends)))
        return "trle", _encode_header(to_code, valid) + body
    vals, _ = decode_typed(name, buf, n)
    out = vals.astype(to_dtype)
    if name == "tdict":
        return "tdict", encode_tdict(out, valid)
    return "traw", encode_traw(out, valid)


def choose_typed(values: np.ndarray, valid: np.ndarray | None = None) -> tuple[str, bytes]:
    """Cost-based auto-selection, mirroring chooser.py: analytic estimates
    from run count / cardinality rank candidates, the winner is actually
    encoded, and RAW wins ties (never larger than raw + header)."""
    code, bv, valid_n = _normalize(values, valid)
    w = values.dtype.itemsize if hasattr(values, "dtype") else np.asarray(values).dtype.itemsize
    n = bv.size
    null_bytes = 0
    if valid_n is not None:
        null_bytes = 5 + 4 * _mask_runs(valid_n)[1].size
    header = 2 + null_bytes
    if n == 0:
        return "traw", encode_traw(values, valid)
    change = np.count_nonzero(bv[1:] != bv[:-1])
    r = 1 + int(change)
    est_rle = header + 4 + r * (4 + w)
    # cardinality from run values (adjacent dupes add nothing)
    run_vals = bv if r == n else split_runs(bv)[0]
    k = int(np.unique(run_vals[:: max(1, run_vals.size // 4096)]).size)
    width = bitpack.bit_width(max(k - 1, 0)) if k > 1 else 0
    est_dict = header + 4 + k * w + 1 + bitpack.packed_nbytes(n, width)
    est_raw = header + n * w
    best = min((est_rle, "trle"), (est_dict, "tdict"), (est_raw, "traw"))[1]
    enc = {"trle": encode_trle, "tdict": encode_tdict, "traw": encode_traw}[best]
    payload = enc(values, valid)
    if best != "traw" and est_raw <= len(payload):
        # est_raw IS len(encode_traw(...)) — header + buffer, both
        # analytically sized (0 deviations over every dtype/null regime,
        # pinned by tests) — so the raw guard never wastes the O(n) copy
        # on blocks where the structured codec already won.
        return "traw", encode_traw(values, valid)
    return best, payload


def encode_typed(
    values: np.ndarray, valid: np.ndarray | None = None, codec: str = "auto"
) -> tuple[str, bytes]:
    if codec == "auto":
        return choose_typed(values, valid)
    if codec == "trle":
        return "trle", encode_trle(values, valid)
    if codec == "tdict":
        return "tdict", encode_tdict(values, valid)
    if codec == "traw":
        return "traw", encode_traw(values, valid)
    raise ValueError(f"unknown typed codec {codec!r}")
