"""RLE ⊕ RLE binary operations on the run-boundary union grid.

The reference merges the two sorted end-position streams, expands both value
arrays onto the union grid, applies the op, and recompresses — never
materializing either array (extend_positions
/root/reference/rle_array/_algorithms.py:484-546, extend_data :549-585,
driver array.py:850-866). Work is O(runs_a + runs_b), independent of n.

Non-RLE codec pairs fall back to decode → op → re-choose (the reference's
"any other array-like → full decode" branch, array.py:867-870).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

import numpy as np

from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.rle import decode_runs, encode_runs, merge_runs
from rle_array_spark.codecs.transform import _checked_int32


def zip_blocks(
    codec_a: str,
    payload_a,
    codec_b: str,
    payload_b,
    n: int,
    op: Callable[[np.ndarray, np.ndarray], np.ndarray],
) -> tuple[str, bytes]:
    """Elementwise ``op(a, b)`` over two equal-length encoded blocks.
    Returns (codec, payload) of the result; int32 non-negative contract."""
    if n == 0:
        return "raw", CODECS["raw"].encode(np.zeros(0, np.int32))
    if codec_a == "rle" and codec_b == "rle":
        vals_a, lens_a = decode_runs(payload_a)
        vals_b, lens_b = decode_runs(payload_b)
        ends_a = np.cumsum(lens_a)
        ends_b = np.cumsum(lens_b)
        union_ends = np.union1d(ends_a, ends_b)  # both end with n
        a_exp = vals_a[np.searchsorted(ends_a, union_ends, side="left")]
        b_exp = vals_b[np.searchsorted(ends_b, union_ends, side="left")]
        out_vals = _checked_int32(op(a_exp.astype(np.int64), b_exp.astype(np.int64)))
        out_lens = np.diff(np.concatenate(([0], union_ends)))
        out_vals, out_lens = merge_runs(out_vals, out_lens)
        return "rle", encode_runs(out_vals, out_lens)
    if codec_a == "dict" and codec_b == "dict":
        # CODE-domain zip: the op runs over the ≤ k_a×k_b PAIR TABLE that
        # actually occurs; values are never gathered and the chooser's
        # trial encodes (measured 80% of the old fallback time on the
        # driver corpus, where auto picks dict for every doc) are skipped.
        dc = CODECS["dict"]
        ta, ca_codes = dc.parts(payload_a, n)
        tb, cb_codes = dc.parts(payload_b, n)
        kb = max(int(tb.size), 1)
        uniq, inv = np.unique(ca_codes * kb + cb_codes, return_inverse=True)
        pair_vals = _checked_int32(op(ta[uniq // kb], tb[uniq % kb]))
        out_table, remap = np.unique(pair_vals, return_inverse=True)
        payload = dc.encode_parts(out_table, remap[inv])
        if len(payload) <= 4 * n + 1:  # never worse than raw
            return "dict", payload
        from rle_array_spark.chooser import choose_codec

        return choose_codec(out_table[remap[inv]].astype(np.int32))
    # decode fallback for mixed codecs
    from rle_array_spark.chooser import choose_codec
    from rle_array_spark.codecs.core import PerformanceWarning

    warnings.warn(
        f"zip of ({codec_a!r}, {codec_b!r}) decodes both blocks "
        "(union-grid path needs RLE on both sides)",
        PerformanceWarning,
        stacklevel=2,
    )
    a = CODECS[codec_a].decode(payload_a, n)
    b = CODECS[codec_b].decode(payload_b, n)
    return choose_codec(_checked_int32(op(a.astype(np.int64), b.astype(np.int64))))


def _empty_block() -> tuple[str, bytes, int]:
    return "raw", CODECS["raw"].encode(np.zeros(0, np.int32)), 0


def mask_blocks(
    codec_v: str,
    payload_v,
    codec_m: str,
    payload_m,
    n: int,
) -> tuple[str, bytes, int]:
    """Boolean-mask gather ``values[mask != 0]`` over two equal-length
    encoded blocks — the compressed-domain form of the reference's
    boolean ``__getitem__`` (`/root/reference/rle_array/array.py:655-668`,
    masks produced by comparison operators per tests/test_getitem.py).
    Returns (codec, payload, new_n); new_n is the mask's popcount.

    * RLE values ⊕ RLE mask: union-grid walk — keep the grid segments
      whose mask value is nonzero, merge newly-adjacent equal runs, emit
      RLE directly. O(runs_v + runs_m), independent of n.
    * DICT values ⊕ any mask: CODE-domain gather — codes are indexed by
      the mask slots, unreferenced table entries pruned; values never
      touched. RLE values ⊕ any mask: run-reuse gather (take_runs) —
      gathered values never materialized. Non-RLE masks decode to bool
      slots first (1 B/slot, silent — bitpack comparison masks are the
      common relational-filter case and their decode IS the cheap part).
    * other VALUE codecs (for/bitpack/ngram/raw): decode fallback with
      PerformanceWarning (the reference's "any other array-like → full
      decode" branch).
    """
    if n == 0:
        return _empty_block()
    if codec_m == "rle" and codec_v == "rle":
        vals_m, lens_m = decode_runs(payload_m)
        vals_v, lens_v = decode_runs(payload_v)
        ends_v = np.cumsum(lens_v)
        ends_m = np.cumsum(lens_m)
        union_ends = np.union1d(ends_v, ends_m)
        v_exp = vals_v[np.searchsorted(ends_v, union_ends, side="left")]
        m_exp = vals_m[np.searchsorted(ends_m, union_ends, side="left")]
        seg_lens = np.diff(np.concatenate(([0], union_ends)))
        keep = m_exp != 0
        out_vals, out_lens = merge_runs(v_exp[keep], seg_lens[keep])
        new_n = int(out_lens.sum())
        if new_n == 0:
            return _empty_block()
        return "rle", encode_runs(out_vals, out_lens), new_n
    if codec_v in ("rle", "dict"):
        if codec_m == "rle":
            vals_m, lens_m = decode_runs(payload_m)
            mask_bool = np.repeat(vals_m != 0, lens_m)
        else:
            mask_bool = CODECS[codec_m].decode(payload_m, n) != 0
        if codec_v == "dict":
            dc = CODECS["dict"]
            table, codes = dc.parts(payload_v, n)
            kept = codes[mask_bool]
            if kept.size == 0:
                return _empty_block()
            uniq, inv = np.unique(kept, return_inverse=True)
            payload = dc.encode_parts(table[uniq], inv)
            if len(payload) <= 4 * kept.size + 1:  # never worse than raw
                return "dict", payload, int(kept.size)
            from rle_array_spark.chooser import choose_codec

            c, p = choose_codec(table[uniq][inv].astype(np.int32))
            return c, p, int(kept.size)
        idx = np.flatnonzero(mask_bool)
        if idx.size == 0:
            return _empty_block()
        from rle_array_spark.codecs.reduce import take_runs

        rv, rl = take_runs("rle", payload_v, n, idx)
        payload = encode_runs(rv, rl)
        if len(payload) <= 4 * idx.size + 1:  # never worse than raw
            return "rle", payload, int(idx.size)
        from rle_array_spark.chooser import choose_codec

        c, p = choose_codec(np.repeat(rv, rl).astype(np.int32))
        return c, p, int(idx.size)
    from rle_array_spark.chooser import choose_codec
    from rle_array_spark.codecs.core import PerformanceWarning

    warnings.warn(
        f"mask gather of ({codec_v!r}, {codec_m!r}) decodes the value "
        "block (compressed path needs RLE/DICT values)",
        PerformanceWarning,
        stacklevel=2,
    )
    v = CODECS[codec_v].decode(payload_v, n)
    if codec_m == "rle":
        vals_m, lens_m = decode_runs(payload_m)
        m = np.repeat(vals_m, lens_m)
    else:
        m = CODECS[codec_m].decode(payload_m, n)
    kept_v = v[m != 0]
    if kept_v.size == 0:
        return _empty_block()
    c, p = choose_codec(_checked_int32(kept_v))
    return c, p, int(kept_v.size)


def filter_block(
    codec: str, payload, n: int, pred
) -> tuple[str, bytes, int]:
    """Fused predicate filter ``values[pred(values) != 0]`` over ONE
    encoded block — the self-mask special case of :func:`mask_blocks`
    (`arr[f(arr)]`, reference array.py:655-668 fed by its own
    compute-on-compressed ops :846-849) evaluated directly in each
    codec's VALUE DOMAIN, so no mask payload is ever built:

    * rle: ``pred`` on run values (O(runs)), kept runs merged and emitted.
    * dict: ``pred`` on the TABLE (O(cardinality)); codes gather through
      the per-code keep flags, table pruned via bincount remap — token
      bytes never touched.
    * bitpack/for/raw/ngram: decode, filter, re-encode under the SAME
      codec (a value subset never widens bitpack width or breaks the FOR
      offset) — no chooser trial encodes in the hot loop.

    ``pred`` receives int64 values and must be vectorized. Returns
    (codec, payload, new_n). Note: dict/fallback outputs preserve the
    SOURCE block's structure (table order, codec choice) rather than
    re-canonicalizing — byte-equality with a fresh encode is only
    guaranteed on the rle path."""
    if n == 0:
        return _empty_block()
    if codec == "rle":
        vals, lens = decode_runs(payload)
        keep = pred(vals.astype(np.int64)) != 0
        out_vals, out_lens = merge_runs(vals[keep], lens[keep])
        new_n = int(out_lens.sum())
        if new_n == 0:
            return _empty_block()
        return "rle", encode_runs(out_vals, out_lens), new_n
    if codec == "dict":
        dc = CODECS["dict"]
        table, codes = dc.parts(payload, n)
        keep_code = pred(table.astype(np.int64)) != 0
        kept = codes[keep_code[codes]]
        if kept.size == 0:
            return _empty_block()
        used = np.zeros(table.size, dtype=bool)
        used[kept] = True
        remap = np.cumsum(used) - 1
        return "dict", dc.encode_parts(table[used], remap[kept]), int(kept.size)
    v = CODECS[codec].decode(payload, n)
    kept_v = v[pred(v.astype(np.int64)) != 0]
    if kept_v.size == 0:
        return _empty_block()
    kept_v = _checked_int32(kept_v)
    return codec, CODECS[codec].encode(kept_v), int(kept_v.size)
