"""Typed RLE ⊕ RLE binary ops on the run-boundary union grid, with null
propagation.

Extends the int-token union-grid zip (codecs/zip_ops.py) to the typed
family: the reference applies every binary operator across all dtypes with
NaN/null propagation (/root/reference/tests/test_operators.py over the
dtype fixtures; null semantics _algorithms.py:155-199). Values expand onto
the union of the two run grids — O(runs_a + runs_b) value work, never a
materialized value array for trle⊕trle — while validity combines as
``valid_a AND valid_b`` (bool work, 1 B/slot). Output null slots carry
op(filled_a, filled_b); since each input forward-fills its own previous
value, that equals the previous output value except at leading-null slots,
which the merge step simply keeps as fillers — decode masks them out either
way.

Float ops may produce NaN (e.g. inf - inf): runs are compared on the BIT
view, so NaN outputs form runs exactly like NaN inputs do.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from rle_array_spark.codecs.rle import merge_runs, split_runs
from rle_array_spark.codecs.typed import (
    _BIT_VIEWS,
    _decode_header,
    _encode_header,
    _lengths,
    _read_tdict,
    _read_trle,
    _trle_body,
    decode_typed,
    dtype_code,
    encode_traw,
    encode_trle,
)

TYPED_ZIP_OPS: dict[str, Callable[[np.ndarray, np.ndarray], np.ndarray]] = {
    "add": lambda a, b: a + b,
    "sub": lambda a, b: a - b,
    "mul": lambda a, b: a * b,
    "div": lambda a, b: np.divide(a, b),
    # zero-safe integer division pair (reference divmod/floordiv/mod,
    # tests/test_builtins.py test_divmod): int b == 0 → 0 (SQL-portable);
    # float divisors use numpy semantics (inf/nan) like div
    "floordiv": lambda a, b: (
        np.floor_divide(a, b)
        if a.dtype.kind == "f"
        else np.floor_divide(a, b, out=np.zeros_like(a), where=b != 0)
    ),
    "mod": lambda a, b: (
        np.mod(a, b)
        if a.dtype.kind == "f"
        else np.mod(a, b, out=np.zeros_like(a), where=b != 0)
    ),
    "min": np.minimum,
    "max": np.maximum,
    # ``**`` (reference array.py:748-824): always float64 out, matching SQL
    # power() — sidesteps numpy's integers-to-negative-powers error and
    # keeps the op oracle-replicable in both engines
    "pow": lambda a, b: np.power(a.astype(np.float64), b.astype(np.float64)),
    "eq": lambda a, b: a == b,
    "ne": lambda a, b: a != b,
    "lt": lambda a, b: a < b,
    "le": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "ge": lambda a, b: a >= b,
}

COMPARISON_OPS = frozenset({"eq", "ne", "lt", "le", "gt", "ge"})


_CANON_NAN_BITS = {2: 0x7E00, 4: 0x7FC00000, 8: 0x7FF8000000000000}


def _canonicalize_nan(out_vals: np.ndarray) -> np.ndarray:
    """Pin every NaN in a float ARITHMETIC RESULT to the canonical qNaN.

    Hardware NaN-payload propagation for two-NaN operands is
    width-dependent (numpy's SIMD loops pick different operands at
    different vector widths), so run-domain compute cannot reproduce
    full-array numpy bit-for-bit — and worse, the same logical zip could
    emit different run merges depending on grid size. Payloads are not
    data (pandas and SQL equate all NaNs); canonicalizing makes compressed
    compute output byte-deterministic. Encode→decode round-trips are
    untouched — stored payloads still survive exactly (the NaN
    bit-pattern-run contract, codecs/typed.py)."""
    if out_vals.dtype.kind == "f":
        m = np.isnan(out_vals)
        if m.any():
            if not out_vals.flags.writeable:
                out_vals = out_vals.copy()
            out_vals.view(_BIT_VIEWS[out_vals.dtype.itemsize])[m] = (
                _CANON_NAN_BITS[out_vals.dtype.itemsize]
            )
    return out_vals


def _typed_run_form(name: str, payload, n: int):
    """→ (run_ends int64 (last == n), run_values ndarray of the tagged
    dtype, valid bool array | None). trle parses the run form directly;
    tdict/traw decode the stream and re-split on the bit view."""
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    if name == "trle":
        ends, run_vals = _read_trle(buf, off, dtype)
        return ends.astype(np.int64), run_vals.view(dtype), valid
    import warnings

    from rle_array_spark.codecs.core import PerformanceWarning

    warnings.warn(
        f"typed run-form input {name!r} decodes its value stream "
        "(the compressed-domain fast path needs trle)",
        PerformanceWarning,
        stacklevel=3,
    )
    vals, _ = decode_typed(name, buf, n)
    run_vals, run_lens = split_runs(np.ascontiguousarray(vals).view(_BIT_VIEWS[dtype.itemsize]))
    return np.cumsum(run_lens), run_vals.view(dtype), valid


def _emit_runs(
    code: int,
    valid: np.ndarray | None,
    run_vals: np.ndarray,
    run_lens: np.ndarray,
    n: int,
) -> tuple[str, bytes]:
    """Pack canonical typed runs as trle, falling back to expanded traw
    when the run form is larger (never exceeds raw + header)."""
    header = _encode_header(code, valid)
    trle = header + _trle_body(run_vals, run_lens)
    if len(trle) <= len(header) + n * run_vals.dtype.itemsize:
        return "trle", trle
    return "traw", header + np.repeat(run_vals, run_lens).tobytes()


def zip_typed_blocks(
    name_a: str,
    payload_a,
    name_b: str,
    payload_b,
    n: int,
    op: str,
    post_fn=None,
    post_bool: bool = False,
) -> tuple[str, bytes]:
    """Elementwise ``op(a, b)`` over two equal-length typed blocks of the
    SAME dtype. Returns (codec, payload); comparisons yield bool blocks.
    Null propagation: result valid iff both inputs valid. ``post_fn`` is
    an optional fused value map applied to the zip output on the union
    grid before the merge/emit (one pass for ``g(a OP b)`` — see
    typed.zip_typed_df's ``post`` steps); ``post_bool`` casts its result
    to bool (trailing comparison)."""
    fn = TYPED_ZIP_OPS[op]
    if n == 0:
        # preserve the RESULT dtype for empty blocks: apply the op to empty
        # arrays of the input dtype (comparisons → bool, int div → float).
        # The dtype-mismatch contract holds for empty pairs too.
        dt_a, _, _ = _decode_header(memoryview(payload_a), 0)
        dt_b, _, _ = _decode_header(memoryview(payload_b), 0)
        if dt_a != dt_b:
            raise ValueError(f"typed zip dtype mismatch: {dt_a} vs {dt_b}")
        empty = np.zeros(0, dtype=dt_a)
        out = np.ascontiguousarray(fn(empty, empty))
        if op in COMPARISON_OPS:
            out = out.astype(np.bool_)
        if post_fn is not None:
            out = np.ascontiguousarray(post_fn(out))
            if post_bool:
                out = out.astype(np.bool_)
        return "traw", encode_traw(out)
    ends_a, vals_a, valid_a = _typed_run_form(name_a, payload_a, n)
    ends_b, vals_b, valid_b = _typed_run_form(name_b, payload_b, n)
    if vals_a.dtype != vals_b.dtype:
        raise ValueError(
            f"typed zip dtype mismatch: {vals_a.dtype} vs {vals_b.dtype}"
        )
    union_ends = np.union1d(ends_a, ends_b)
    a_exp = vals_a[np.searchsorted(ends_a, union_ends, side="left")]
    b_exp = vals_b[np.searchsorted(ends_b, union_ends, side="left")]
    out_vals = np.ascontiguousarray(fn(a_exp, b_exp))
    if op in COMPARISON_OPS:
        out_vals = out_vals.astype(np.bool_)
    if post_fn is not None:
        out_vals = np.ascontiguousarray(post_fn(out_vals))
        if post_bool:
            out_vals = out_vals.astype(np.bool_)
    # merge adjacent grid cells with equal output bit patterns
    out_vals, lens = merge_runs(_canonicalize_nan(out_vals), _lengths(union_ends))
    if valid_a is None:
        valid = valid_b
    elif valid_b is None:
        valid = valid_a
    else:
        valid = valid_a & valid_b
    return _emit_runs(dtype_code(out_vals.dtype), valid, out_vals, lens, n)


TYPED_UNARY_OPS: dict[str, Callable[[np.ndarray], np.ndarray]] = {
    # reference unary dunders (__neg__/__abs__/__pos__/__invert__,
    # array.py:826-837); numeric dtypes only — numpy itself raises on
    # datetime64 negation and float inversion, matching the reference
    # (which applies the same numpy op to the decoded array)
    "neg": np.negative,
    "abs": np.abs,
    "pos": np.positive,
    # ``~``: bitwise not on ints (-v-1), logical not on bool mask blocks
    # (the reference's mask-complement idiom a[~(a < b)]). Token-domain
    # TRANSFORM_OPS deliberately excludes it: ~token is negative and
    # leaves the non-negative int32 token domain.
    "invert": np.invert,
}


def transform_typed(name: str, payload, n: int, fn, to_bool: bool = False):
    """Value-map ``fn`` over one typed block's RUN VALUES (the reference's
    scalar/unary operator semantics, array.py:748-849: op the run values,
    keep positions, recompress) — the single-input sibling of
    :func:`zip_typed_blocks`, sharing its run-form parse, adjacent-equal
    merge and emit. Null slots keep their validity (null OP k = null).
    ``to_bool`` casts the result to bool (comparison outputs)."""
    if n == 0:
        dt, _, _ = _decode_header(memoryview(payload), 0)
        out = np.ascontiguousarray(fn(np.zeros(0, dtype=dt)))
        if to_bool:
            out = out.astype(np.bool_)
        return "traw", encode_traw(out)
    ends, vals, valid = _typed_run_form(name, payload, n)
    out_vals = np.ascontiguousarray(fn(vals))
    if to_bool:
        out_vals = out_vals.astype(np.bool_)
    # merge adjacent runs made equal by the map
    out_vals, lens = merge_runs(_canonicalize_nan(out_vals), _lengths(ends))
    return _emit_runs(dtype_code(out_vals.dtype), valid, out_vals, lens, n)


def take_typed(
    name: str,
    payload,
    n: int,
    idx: np.ndarray,
    allow_fill: bool = False,
    fill_value=None,
) -> tuple[str, bytes]:
    """values[idx] as a typed block — the reference's full ``take``
    contract generalized to every dtype
    (/root/reference/rle_array/_algorithms.py:370-481,
    tests/test_algorithms.py test_take_no_fill_*/test_take_fill_*):
    arbitrary index order, negative-index wrapping, and ``allow_fill``
    (-1 → ``fill_value``; None fills null via the validity mask, a scalar
    fills that value). Sorted no-fill indices take the run-reuse fast
    path: source runs are located with ONE searchsorted, consecutive
    indices in one run collapse, equal-valued neighbors merge on the bit
    view, and the validity mask gathers positionally. Unsorted or filled
    takes gather per index (one searchsorted on run ends) and re-encode."""
    from rle_array_spark.codecs.reduce import normalize_take_indices

    buf = memoryview(payload)
    dtype, valid, _ = _decode_header(buf, n)
    idx, fill_mask = normalize_take_indices(idx, n, allow_fill)
    if idx.size == 0:  # before the run form: empty take must be O(1)
        return "trle", encode_trle(np.zeros(0, dtype))
    if fill_mask.any() or bool(np.any(np.diff(idx) < 0)):
        from rle_array_spark.codecs.typed import encode_typed

        if n == 0:  # only reachable as an all-fill take
            vals = np.zeros(idx.size, dtype=dtype)
            new_valid = np.zeros(idx.size, dtype=bool)
        else:
            ends, run_vals, _ = _typed_run_form(name, payload, n)
            gather_idx = np.where(fill_mask, 0, idx)
            vals = run_vals[
                np.searchsorted(ends, gather_idx, side="right")
            ].copy()
            new_valid = (
                valid[gather_idx].copy()
                if valid is not None
                else np.ones(idx.size, dtype=bool)
            )
        if fill_value is None:
            new_valid[fill_mask] = False
        else:
            vals[fill_mask] = fill_value
            new_valid[fill_mask] = True
        if new_valid.all():
            new_valid = None
        return encode_typed(np.ascontiguousarray(vals), new_valid, "auto")
    ends, run_vals, _ = _typed_run_form(name, payload, n)
    ridx = np.searchsorted(ends, idx, side="right")
    starts = np.concatenate(([0], np.flatnonzero(ridx[1:] != ridx[:-1]) + 1))
    lens = np.diff(np.concatenate((starts, [idx.size])))
    out_vals, lens = merge_runs(np.ascontiguousarray(run_vals[ridx[starts]]), lens)
    new_valid = valid[idx] if valid is not None else None
    if new_valid is not None and new_valid.all():
        new_valid = None
    return _emit_runs(dtype_code(dtype), new_valid, out_vals, lens, idx.size)


def reverse_typed(name: str, payload, n: int) -> tuple[str, bytes]:
    """Reversed typed block (negative-step slice) in the run domain:
    O(n_runs) for trle, with the validity mask's run structure reversed."""
    buf = memoryview(payload)
    dtype, valid, _ = _decode_header(buf, n)
    ends, run_vals, _ = _typed_run_form(name, payload, n)
    new_valid = valid[::-1].copy() if valid is not None else None
    return _emit_runs(
        dtype_code(dtype), new_valid, np.ascontiguousarray(run_vals[::-1]), _lengths(ends)[::-1], n
    )


def mask_typed(
    name_v: str,
    payload_v,
    name_m: str,
    payload_m,
    n: int,
) -> tuple[str, bytes, int]:
    """Boolean-mask gather ``values[mask]`` over two equal-length typed
    blocks; the mask is a typed BOOL block (the output type of the
    comparison zips above and of strings.zip_strings_compare), so
    ``arr[arr > x]`` composes entirely in the encoded domain — the
    reference's boolean ``__getitem__`` generalized to every dtype
    (/root/reference/rle_array/array.py:655-668). Returns
    (codec, payload, new_n).

    Null semantics are SQL WHERE, not pandas: a null mask slot DROPS the
    row (pandas raises on NA-in-mask; in this engine masks are produced by
    null-propagating comparisons, and "unknown" filters out — the same
    convention every relational filter in the engine already uses).

    * trle values ⊕ trle mask, no nulls on either side: pure run-domain
      union-grid walk, O(runs_v + runs_m) — slot arrays never built.
    * anything else: slot-level mask expansion (bool work, 1 B/slot; the
      validity decode is already slot-level in this format) feeding
      :func:`take_typed`, which keeps the VALUE gather in the run/code
      domain for trle and warns on decode fallbacks.
    """
    buf_m = memoryview(payload_m)
    dt_m, valid_m, _ = _decode_header(buf_m, n)
    if dt_m != np.dtype(np.bool_):
        raise ValueError(f"mask block must be bool-typed, got {dt_m}")
    buf_v = memoryview(payload_v)
    dt_v, valid_v, _ = _decode_header(buf_v, n)
    if n == 0:
        return "trle", encode_trle(np.zeros(0, dt_v)), 0
    if (
        name_v == "trle"
        and name_m == "trle"
        and valid_v is None
        and valid_m is None
    ):
        ends_v, vals_v, _ = _typed_run_form(name_v, payload_v, n)
        ends_m, vals_m, _ = _typed_run_form(name_m, payload_m, n)
        union_ends = np.union1d(ends_v, ends_m)
        v_exp = vals_v[np.searchsorted(ends_v, union_ends, side="left")]
        m_exp = vals_m[np.searchsorted(ends_m, union_ends, side="left")]
        keep = m_exp.view(np.bool_)
        out_lens = _lengths(union_ends)[keep]
        new_n = int(out_lens.sum())
        if new_n == 0:
            return "trle", encode_trle(np.zeros(0, dt_v)), 0
        # merge newly-adjacent equal runs on the bit view
        out_vals, out_lens = merge_runs(np.ascontiguousarray(v_exp[keep]), out_lens)
        codec, payload = _emit_runs(dtype_code(dt_v), None, out_vals, out_lens, new_n)
        return codec, payload, new_n
    # slot-level mask extraction is the contract here (bool, 1 B/slot) —
    # decode_typed directly, silently; only the VALUE-side gather inside
    # take_typed warns when it has to leave the run domain
    mvals, _ = decode_typed(name_m, memoryview(payload_m), n)
    slots = mvals.view(np.bool_).copy() if valid_m is None else (
        mvals.view(np.bool_) & valid_m
    )
    idx = np.flatnonzero(slots)
    codec, payload = take_typed(name_v, payload_v, n, idx)
    return codec, payload, int(idx.size)


def filter_typed(
    name: str, payload, n: int, op: str, operand, pre_fn=None
) -> tuple[str, bytes, int]:
    """Fused scalar-comparison filter ``values[values op operand]`` over
    one typed block — the self-mask special case of mask_typed
    (``df[df.x < c]`` for any dtype, reference array.py:655-668 fed by its
    comparison operators) evaluated in the codec's VALUE DOMAIN with no
    mask payload:

    * trle: comparison on RUN VALUES; without nulls the kept runs are
      merged and emitted directly (O(runs)); with nulls the keep flags
      expand to slots (bool, the family's slot-level validity layout) and
      gather through take_typed's run-reuse path.
    * tdict: comparison on the TABLE (O(cardinality)); kept values gather
      in the code domain and re-encode under the same codec.
    * traw: slot comparison + same-codec re-encode.

    Null slots DROP (SQL WHERE — a comparison with null is null); NaN
    obeys numpy comparison semantics (NaN op x → False → dropped, except
    ne). Returns (codec, payload, new_n).

    ``pre_fn`` is an optional value map applied to the PREDICATE input
    only — ``values[pre_fn(values) op operand]`` keeps the ORIGINAL
    values, so a filter on a derived quantity (``a[abs(a) > c]``) never
    materializes the derived column; the operand then compares in
    ``pre_fn``'s output domain, not the block dtype."""
    if op not in COMPARISON_OPS:
        raise ValueError(f"filter op must be a comparison, got {op!r}")
    fn = TYPED_ZIP_OPS[op]
    buf = memoryview(payload)
    dtype, valid, off = _decode_header(buf, n)
    if n == 0:
        return "trle", encode_trle(np.zeros(0, dtype)), 0
    from rle_array_spark.codecs.typed import encode_typed

    if pre_fn is None:
        scalar = np.asarray(operand, dtype=dtype)[()] if dtype.kind != "M" else operand

        def pred(x):
            return fn(x, scalar)
    else:
        pre_scalar = np.asarray(operand)[()]

        def pred(x):
            return fn(pre_fn(x), pre_scalar)
    if name == "trle":
        ends, run_vals, _ = _typed_run_form(name, payload, n)
        keep_runs = np.asarray(pred(run_vals), dtype=bool)
        lens = _lengths(ends)
        if valid is None:
            out_lens = lens[keep_runs]
            new_n = int(out_lens.sum())
            if new_n == 0:
                return "trle", encode_trle(np.zeros(0, dtype)), 0
            out_vals, out_lens = merge_runs(np.ascontiguousarray(run_vals[keep_runs]), out_lens)
            codec, pl = _emit_runs(
                dtype_code(dtype), None, out_vals, out_lens, new_n
            )
            return codec, pl, new_n
        keep_slots = np.repeat(keep_runs, lens) & valid
        idx = np.flatnonzero(keep_slots)
        codec, pl = take_typed(name, payload, n, idx)
        return codec, pl, int(idx.size)
    if name == "tdict":
        table, codes = _read_tdict(buf, off, dtype, n)
        table = table.view(dtype)
        keep_code = np.asarray(pred(table), dtype=bool)
        keep_slots = keep_code[codes]
        if valid is not None:
            keep_slots = keep_slots & valid
        kept_codes = codes[keep_slots]
        if kept_codes.size == 0:
            return "trle", encode_trle(np.zeros(0, dtype)), 0
        vals = np.ascontiguousarray(table[kept_codes])
        new_valid = valid[keep_slots] if valid is not None else None
        if new_valid is not None and new_valid.all():
            new_valid = None
        codec, pl = encode_typed(vals, new_valid, "tdict")
        return codec, pl, int(vals.size)
    vals, _ = decode_typed(name, buf, n)
    keep_slots = np.asarray(pred(vals), dtype=bool)
    if valid is not None:
        keep_slots = keep_slots & valid
    kept = np.ascontiguousarray(vals[keep_slots])
    if kept.size == 0:
        return "trle", encode_trle(np.zeros(0, dtype)), 0
    new_valid = valid[keep_slots] if valid is not None else None
    if new_valid is not None and new_valid.all():
        new_valid = None
    codec, pl = encode_typed(kept, new_valid, name)
    return codec, pl, int(kept.size)


def value_counts_typed(
    name: str, payload, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block value histogram for a typed block, computed from the
    payload (the compressed form of the reference's ``value_counts`` /
    ``unique`` on any dtype, array.py:918-923): trle counts unique RUN
    VALUES weighted by run lengths (slot-corrected when nulls are
    present), tdict bincounts the code stream against the table, traw
    falls back to a slot scan. Null slots are EXCLUDED (pandas
    value_counts(dropna=True)); values group on the BIT VIEW — NaNs with
    the same bit pattern count as one key (the codec's run semantics;
    distinct NaN payloads, if an input carries them, stay distinct, same
    as the round-trip's bit-identity contract). Returns (values ndarray
    of the block dtype, counts int64)."""
    buf = memoryview(payload)
    dtype, valid, _ = _decode_header(buf, n)
    bits = _BIT_VIEWS[dtype.itemsize]
    if n == 0:
        return np.zeros(0, dtype=dtype), np.zeros(0, np.int64)
    if name == "trle" and valid is None:
        ends, run_vals, _ = _typed_run_form(name, payload, n)
        bv = np.ascontiguousarray(run_vals).view(bits)
        uniq, inv = np.unique(bv, return_inverse=True)
        counts = np.bincount(inv, weights=_lengths(ends).astype(np.float64)).astype(np.int64)
        return uniq.view(dtype), counts
    vals, _ = decode_typed(name, buf, n)
    bv = np.ascontiguousarray(vals).view(bits)
    if valid is not None:
        bv = bv[valid]
    if bv.size == 0:
        return np.zeros(0, dtype=dtype), np.zeros(0, np.int64)
    uniq, counts = np.unique(bv, return_counts=True)
    return uniq.view(dtype), counts.astype(np.int64)
