"""Property-based round-trip tests (hypothesis): for ANY non-negative int32
array, every codec must round-trip bit-identically, the chooser's pick must
round-trip AND never exceed raw by more than the threshold guard, and
compressed reductions must equal their decoded-domain twins."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from rle_array_spark.chooser import choose_codec
from rle_array_spark.codecs import CODECS, decode_block, encode_block
from rle_array_spark.codecs.reduce import block_min_max, block_sum, decode_slice
from rle_array_spark.codecs.transform import transform_block_stats

token_arrays = arrays(
    dtype=np.int32,
    shape=st.integers(0, 400),
    elements=st.one_of(
        st.integers(0, 3),  # low-card / runs regime
        st.integers(0, 65535),  # vocab regime
        st.integers(0, 2**31 - 1),  # full-range regime
    ),
)

# run-structured arrays: repeat small values with varying lengths
run_arrays = st.lists(
    st.tuples(st.integers(0, 100), st.integers(1, 50)), min_size=0, max_size=40
).map(
    lambda pairs: np.repeat(
        np.array([v for v, _ in pairs], dtype=np.int32),
        np.array([l for _, l in pairs], dtype=np.int64),
    )
    if pairs
    else np.array([], dtype=np.int32)
)

any_tokens = st.one_of(token_arrays, run_arrays)


@settings(max_examples=150, deadline=None)
@given(arr=any_tokens, codec=st.sampled_from(sorted(CODECS)))
def test_every_codec_roundtrips(arr, codec):
    payload = encode_block(arr, codec)
    out = decode_block(payload, codec, arr.size)
    np.testing.assert_array_equal(out, arr)
    assert out.dtype == np.int32


@settings(max_examples=150, deadline=None)
@given(arr=any_tokens)
def test_auto_roundtrips_and_beats_threshold(arr):
    codec, payload = choose_codec(arr)
    np.testing.assert_array_equal(decode_block(payload, codec, arr.size), arr)
    if codec != "raw":
        assert len(payload) <= arr.size * 4


@settings(max_examples=100, deadline=None)
@given(arr=any_tokens, codec=st.sampled_from(sorted(CODECS)))
def test_compressed_reductions_match(arr, codec):
    payload = encode_block(arr, codec)
    assert block_sum(codec, payload, arr.size) == int(arr.sum(dtype=np.int64))
    if arr.size:
        assert block_min_max(codec, payload, arr.size) == (int(arr.min()), int(arr.max()))


@settings(max_examples=100, deadline=None)
@given(
    arr=any_tokens,
    codec=st.sampled_from(sorted(CODECS)),
    start=st.integers(-5, 500),
    length=st.integers(0, 500),
)
def test_slice_matches_numpy(arr, codec, start, length):
    payload = encode_block(arr, codec)
    lo = max(0, start)
    hi = max(lo, min(start + length, arr.size))
    np.testing.assert_array_equal(
        decode_slice(codec, payload, arr.size, start, start + length), arr[lo:hi]
    )


@settings(max_examples=100, deadline=None)
@given(arr=any_tokens, codec=st.sampled_from(sorted(CODECS)), k=st.integers(0, 1000))
def test_transform_add_matches_or_raises_on_overflow(arr, codec, k):
    payload = encode_block(arr, codec)
    expected = arr.astype(np.int64) + k
    overflows = arr.size > 0 and int(expected.max()) > 2**31 - 1
    if overflows:
        # silent int32 wraparound would be data corruption; must raise
        with pytest.raises(ValueError, match="int32 token range"):
            transform_block_stats(codec, payload, arr.size, lambda v: v + k)
        return
    new_codec, new_payload = transform_block_stats(
        codec, payload, arr.size, lambda v: v + k
    )[:2]
    np.testing.assert_array_equal(decode_block(new_payload, new_codec, arr.size), expected)


TRANSFORM_OP_CASES = st.sampled_from(
    [
        ("sub_floor", lambda v, k: np.maximum(v - k, 0), st.integers(0, 10**6)),
        ("floordiv", lambda v, k: v // k, st.integers(1, 10**6)),
        ("mod", lambda v, k: v % k, st.integers(1, 10**6)),
        ("bitand", lambda v, k: v & k, st.integers(0, 2**31 - 1)),
        ("bitor", lambda v, k: v | k, st.integers(0, 2**20)),
        ("bitxor", lambda v, k: v ^ k, st.integers(0, 2**20)),
    ]
)


@settings(max_examples=150, deadline=None)
@given(arr=any_tokens, codec=st.sampled_from(sorted(CODECS)), case=TRANSFORM_OP_CASES, data=st.data())
def test_transform_full_op_set_property(arr, codec, case, data):
    """Any closed-on-tokens scalar op × any codec: transform-on-compressed ≡
    numpy-op-then-encode, and the exact-stats variant reports truthful
    metadata (the reference differential pattern, tests/test_operators.py)."""
    import warnings

    from rle_array_spark.codecs.core import PerformanceWarning
    from rle_array_spark.codecs.transform import transform_block_stats

    _, np_op, k_strategy = case
    k = data.draw(k_strategy)
    payload = encode_block(arr, codec)

    def fn(v):
        return np_op(v.astype(np.int64), k)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", PerformanceWarning)
        new_codec, new_payload, n_runs, tok_sum, tok_min, tok_max = transform_block_stats(
            codec, payload, arr.size, fn
        )
    expect = np_op(arr.astype(np.int64), k)
    out = decode_block(new_payload, new_codec, arr.size)
    np.testing.assert_array_equal(out, expect.astype(np.int32))
    if arr.size == 0:
        assert (n_runs, tok_sum, tok_min, tok_max) == (0, 0, 0, 0)
    else:
        assert tok_sum == int(expect.sum())
        assert tok_min == int(expect.min())
        assert tok_max == int(expect.max())
        assert n_runs == 1 + int(np.count_nonzero(expect[1:] != expect[:-1]))


@settings(max_examples=100, deadline=None)
@given(
    arr=any_tokens,
    codec_a=st.sampled_from(sorted(CODECS)),
    codec_b=st.sampled_from(sorted(CODECS)),
    op_name=st.sampled_from(["add", "mul", "max", "min"]),
)
def test_zip_any_codec_pair_property(arr, codec_a, codec_b, op_name):
    """zip of any codec pair over the same logical array ≡ numpy op.
    (mul capped to a shifted copy to stay in int32.)"""
    import warnings

    from rle_array_spark.codecs.core import PerformanceWarning
    from rle_array_spark.codecs.zip_ops import zip_blocks

    ops = {
        "add": lambda x, y: x + y,
        "mul": lambda x, y: (x % 1000) * (y % 1000),
        "max": np.maximum,
        "min": np.minimum,
    }
    op = ops[op_name]
    b_arr = (arr // 2).astype(np.int32)
    pa_ = encode_block(arr, codec_a)
    pb = encode_block(b_arr, codec_b)
    expect64 = op(arr.astype(np.int64), b_arr.astype(np.int64))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", PerformanceWarning)
        if arr.size and int(expect64.max()) > 2**31 - 1:
            # silent int32 wraparound would be corruption; must raise
            # (hypothesis found exactly this gap — see commit history)
            with pytest.raises(ValueError, match="int32 token range"):
                zip_blocks(codec_a, pa_, codec_b, pb, arr.size, op)
            return
        codec, payload = zip_blocks(codec_a, pa_, codec_b, pb, arr.size, op)
    out = decode_block(payload, codec, arr.size)
    np.testing.assert_array_equal(out, expect64.astype(np.int32))


# ---------------------------------------------------------------------------
# typed family: any fixed-width dtype + any null mask must round-trip
# bit-identically (reference round-trip properties across dtype fixtures,
# /root/reference/tests/test_algorithms.py:84-133)
# ---------------------------------------------------------------------------

typed_payload_cases = st.one_of(
    arrays(np.float64, st.integers(0, 200),
           elements=st.floats(allow_nan=True, allow_infinity=True, width=64)),
    arrays(np.int64, st.integers(0, 200),
           elements=st.integers(-(2**40), 2**40)),
    arrays(np.bool_, st.integers(0, 200)),
    arrays(np.int16, st.integers(0, 200),
           elements=st.integers(-(2**15), 2**15 - 1)),
)


@settings(max_examples=120, deadline=None)
@given(vals=typed_payload_cases, data=st.data(),
       codec=st.sampled_from(["trle", "tdict", "traw", "auto"]))
def test_typed_roundtrip_property(vals, data, codec):
    from rle_array_spark.codecs.typed import decode_typed, encode_typed

    mask = data.draw(
        st.one_of(st.none(), arrays(np.bool_, vals.size)), label="mask"
    )
    name, payload = encode_typed(vals, mask, codec)
    out, valid = decode_typed(name, payload, vals.size)
    assert out.dtype == vals.dtype
    eff_mask = (
        np.ones(vals.size, bool) if mask is None
        else np.asarray(mask, bool)
    )
    got_mask = np.ones(vals.size, bool) if valid is None else valid
    np.testing.assert_array_equal(got_mask, eff_mask)
    # BIT-identity at valid slots (NaN == NaN, -0.0 != +0.0)
    w = vals.dtype.itemsize
    bits = {1: "<u1", 2: "<u2", 4: "<u4", 8: "<u8"}[w]
    np.testing.assert_array_equal(
        np.ascontiguousarray(out).view(bits)[eff_mask],
        np.ascontiguousarray(vals).view(bits)[eff_mask],
    )


@settings(max_examples=80, deadline=None)
@given(vals=st.lists(
    st.one_of(st.none(), st.text(max_size=8)), min_size=0, max_size=120),
    codec=st.sampled_from(["srle", "sdict", "sraw", "auto"]))
def test_string_roundtrip_property(vals, codec):
    import pyarrow as pa

    from rle_array_spark.codecs.strings import decode_strings, encode_string_block

    arr = pa.array(vals, type=pa.string())
    name, payload = encode_string_block(arr, codec)
    out, valid = decode_strings(name, payload, len(vals))
    restored = (
        list(out) if valid is None
        else [v if ok else None for v, ok in zip(out, valid)]
    )
    assert restored == vals


@settings(max_examples=100, deadline=None)
@given(arr=any_tokens, data=st.data(), codec=st.sampled_from(sorted(CODECS)))
def test_take_runs_property(arr, data, codec):
    """For ANY array, codec, and sorted index list (repeats allowed),
    take_runs must equal decode-then-fancy-index and stay canonical."""
    from rle_array_spark.codecs.reduce import take_runs

    payload = encode_block(arr, codec)
    if arr.size:
        idx = np.sort(
            np.asarray(
                data.draw(
                    st.lists(st.integers(0, arr.size - 1), max_size=50), label="idx"
                ),
                dtype=np.int64,
            )
        )
    else:
        idx = np.zeros(0, dtype=np.int64)
    rv, rl = take_runs(codec, payload, arr.size, idx)
    np.testing.assert_array_equal(np.repeat(rv, rl), arr[idx])
    assert (rl >= 1).all()
    if rv.size > 1:
        assert (rv[1:] != rv[:-1]).all()


@settings(max_examples=80, deadline=None)
@given(data=st.data(),
       op=st.sampled_from(["add", "mul", "min", "max", "eq", "lt", "ge"]),
       codec_a=st.sampled_from(["trle", "tdict", "traw", "auto"]),
       codec_b=st.sampled_from(["trle", "tdict", "traw", "auto"]))
def test_zip_typed_property(data, op, codec_a, codec_b):
    """Any same-dtype pair, any codecs, any masks: zip must equal the
    numpy op at mutually-valid slots with AND-combined validity."""
    import warnings

    from rle_array_spark.codecs.typed import decode_typed, encode_typed
    from rle_array_spark.codecs.typed_zip import COMPARISON_OPS, TYPED_ZIP_OPS, zip_typed_blocks

    n = data.draw(st.integers(0, 120), label="n")
    kind = data.draw(st.sampled_from(["f8", "i8"]), label="dtype")
    if kind == "f8":
        va = np.asarray(data.draw(arrays(np.float64, n,
            elements=st.floats(allow_nan=True, allow_infinity=True, width=32))), dtype=np.float64)
        vb = np.asarray(data.draw(arrays(np.float64, n,
            elements=st.floats(allow_nan=True, allow_infinity=True, width=32))), dtype=np.float64)
    else:
        va = np.asarray(data.draw(arrays(np.int64, n, elements=st.integers(-100, 100))))
        vb = np.asarray(data.draw(arrays(np.int64, n, elements=st.integers(-100, 100))))
    ma = data.draw(st.one_of(st.none(), arrays(np.bool_, n)), label="mask_a")
    mb = data.draw(st.one_of(st.none(), arrays(np.bool_, n)), label="mask_b")
    na, pa_ = encode_typed(va, ma, codec_a)
    nb, pb_ = encode_typed(vb, mb, codec_b)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        name, payload = zip_typed_blocks(na, pa_, nb, pb_, n, op)
    got, valid = decode_typed(name, payload, n)
    keep = np.ones(n, dtype=bool)
    if ma is not None:
        keep &= np.asarray(ma, bool)
    if mb is not None:
        keep &= np.asarray(mb, bool)
    got_mask = np.ones(n, bool) if valid is None else valid
    np.testing.assert_array_equal(got_mask, keep)
    exp = TYPED_ZIP_OPS[op](va, vb)
    if op in COMPARISON_OPS:
        exp = exp.astype(np.bool_)
    if exp.dtype.kind == "f":
        # the engine canonicalizes NaN payloads in arithmetic RESULTS
        # (numpy's own two-NaN payload choice is SIMD-width-dependent, so
        # full-array numpy is not bit-reproducible by run-domain compute —
        # see codecs/typed_zip._canonicalize_nan); pin exp the same way
        exp = exp.copy()
        exp[np.isnan(exp)] = np.nan
    w = got.dtype.itemsize
    bits = {1: "<u1", 2: "<u2", 4: "<u4", 8: "<u8"}[w]
    np.testing.assert_array_equal(
        np.ascontiguousarray(got).view(bits)[keep],
        np.ascontiguousarray(exp).view(bits)[keep],
    )


# ---------------------------------------------------------------------------
# round-3 ops: cast / dropna / fillna must match numpy for ANY payload
# ---------------------------------------------------------------------------

@settings(max_examples=120, deadline=None)
@given(vals=typed_payload_cases, data=st.data(),
       codec=st.sampled_from(["trle", "tdict", "traw", "auto"]))
def test_typed_dropna_fillna_property(vals, data, codec):
    from rle_array_spark.codecs.typed import (
        decode_typed, dropna_typed, encode_typed, fillna_typed,
    )

    mask = data.draw(st.one_of(st.none(), arrays(np.bool_, vals.size)), label="mask")
    name, payload = encode_typed(vals, mask, codec)
    eff = np.ones(vals.size, bool) if mask is None else np.asarray(mask, bool)
    w = vals.dtype.itemsize
    bits = {1: "<u1", 2: "<u2", 4: "<u4", 8: "<u8"}[w]

    # dropna == vals[mask], null-free, bit-identical
    dn, dp, dlen = dropna_typed(name, payload, vals.size)
    assert dlen == int(eff.sum())
    out, valid = decode_typed(dn, dp, dlen)
    assert valid is None
    np.testing.assert_array_equal(
        np.ascontiguousarray(out).view(bits),
        np.ascontiguousarray(vals[eff]).view(bits),
    )

    # fillna(value) == where(mask, vals, fill), null-free
    fill = np.zeros(1, dtype=vals.dtype)[0]
    fn, fp = fillna_typed(name, payload, vals.size, value=fill)
    out, valid = decode_typed(fn, fp, vals.size)
    assert valid is None or valid.all()
    expected = vals.copy()
    expected[~eff] = fill
    np.testing.assert_array_equal(
        np.ascontiguousarray(out).view(bits),
        np.ascontiguousarray(expected).view(bits),
    )

    # ffill: pandas-style forward fill, leading nulls stay null
    gn, gp = fillna_typed(name, payload, vals.size, method="ffill")
    out, valid = decode_typed(gn, gp, vals.size)
    pos = np.where(eff, np.arange(vals.size, dtype=np.int64), -1)
    np.maximum.accumulate(pos, out=pos)
    got_mask = np.ones(vals.size, bool) if valid is None else valid
    np.testing.assert_array_equal(got_mask, pos >= 0)
    filled = pos >= 0
    np.testing.assert_array_equal(
        np.ascontiguousarray(out).view(bits)[filled],
        np.ascontiguousarray(vals).view(bits)[np.maximum(pos, 0)][filled],
    )


_CAST_TARGETS = ["int32", "int64", "float32", "float64", "int16"]


@settings(max_examples=120, deadline=None)
@given(vals=typed_payload_cases, data=st.data(),
       codec=st.sampled_from(["trle", "tdict", "traw"]),
       target=st.sampled_from(_CAST_TARGETS))
def test_typed_cast_property(vals, data, codec, target):
    """cast == encode(decode(payload).astype(target)) BYTE-identically —
    the canonical-merge contract for any input, mask, and dtype pair.
    float→int of NaN/inf is undefined in numpy, so those inputs are
    filtered out for integer targets."""
    from rle_array_spark.codecs.typed import (
        cast_typed, decode_typed, encode_tdict, encode_traw, encode_trle, encode_typed,
    )

    to = np.dtype(target)
    if vals.dtype.kind == "f" and to.kind in "iu":
        finite = np.isfinite(vals) & (np.abs(vals) < 2**30)
        vals = np.where(finite, vals, 0.0).astype(vals.dtype)
    mask = data.draw(st.one_of(st.none(), arrays(np.bool_, vals.size)), label="mask")
    name, payload = encode_typed(vals, mask, codec)
    body, valid = decode_typed(name, payload, vals.size)
    expected = body.astype(to)
    got_name, got = cast_typed(name, payload, vals.size, to)
    direct = {"trle": encode_trle, "tdict": encode_tdict, "traw": encode_traw}[got_name]
    assert got == direct(expected, valid)


@settings(max_examples=80, deadline=None)
@given(vals=st.lists(st.one_of(st.none(), st.text(max_size=6)),
                     min_size=0, max_size=100),
       codec=st.sampled_from(["srle", "sdict", "sraw", "auto"]))
def test_string_dropna_fillna_property(vals, codec):
    import pyarrow as pa

    from rle_array_spark.codecs.strings import (
        decode_strings, dropna_strings, encode_string_block, fillna_strings,
    )

    name, payload = encode_string_block(pa.array(vals, type=pa.string()), codec)
    n = len(vals)

    dn, dp, dlen = dropna_strings(name, payload, n)
    expected = [v for v in vals if v is not None]
    assert dlen == len(expected)
    out, valid = decode_strings(dn, dp, dlen)
    assert valid is None
    assert list(out) == expected

    fn, fp = fillna_strings(name, payload, n, value="␀fill")
    out, valid = decode_strings(fn, fp, n)
    assert valid is None or valid.all()
    assert list(out) == [v if v is not None else "␀fill" for v in vals]


@settings(max_examples=120, deadline=None)
@given(vals=typed_payload_cases, data=st.data(),
       codec=st.sampled_from(["trle", "tdict", "traw"]),
       p=st.integers(-8, 8))
def test_typed_shift_property(vals, data, codec, p):
    """shift == byte-identical re-encode of the numpy-shifted array with
    vacated slots null, for any payload/mask/period."""
    from rle_array_spark.codecs.typed import (
        encode_tdict, encode_traw, encode_trle, encode_typed, shift_typed,
    )

    mask = data.draw(st.one_of(st.none(), arrays(np.bool_, vals.size)), label="mask")
    name, payload = encode_typed(vals, mask, codec)
    got_name, got = shift_typed(name, payload, vals.size, p)
    n = vals.size
    ov = np.ones(n, bool) if mask is None else np.asarray(mask, bool)
    ex = np.zeros(n, dtype=vals.dtype)
    nv = np.zeros(n, bool)
    if p == 0:
        ex, nv = vals, ov
    elif p > 0 and p < n:
        ex[p:] = vals[: n - p]
        nv[p:] = ov[: n - p]
    elif p < 0 and -p < n:
        ex[: n + p] = vals[-p:]
        nv[: n + p] = ov[-p:]
    direct = {"trle": encode_trle, "tdict": encode_tdict, "traw": encode_traw}[got_name]
    assert got == direct(ex, None if nv.all() else nv)


@settings(max_examples=120, deadline=None)
@given(
    arr=any_tokens,
    codec_v=st.sampled_from(sorted(CODECS)),
    codec_m=st.sampled_from(sorted(CODECS)),
    data=st.data(),
)
def test_mask_blocks_property(arr, codec_v, codec_m, data):
    """For ANY payload pair, mask_blocks == numpy boolean indexing, with
    exact new_n and a decodable payload."""
    import warnings

    from rle_array_spark.codecs.zip_ops import mask_blocks

    mask = data.draw(
        arrays(dtype=np.int32, shape=arr.size, elements=st.integers(0, 1))
    )
    pv = encode_block(arr, codec_v)
    pm = encode_block(mask, codec_m)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        codec, payload, new_n = mask_blocks(codec_v, pv, codec_m, pm, arr.size)
    want = arr[mask != 0]
    assert new_n == want.size
    np.testing.assert_array_equal(decode_block(payload, codec, new_n), want)


@settings(max_examples=120, deadline=None)
@given(arr=any_tokens, codec=st.sampled_from(sorted(CODECS)), data=st.data())
def test_take_any_property(arr, codec, data):
    """For ANY payload and ANY index list (arbitrary order, negatives,
    optional -1 fills), take_any == numpy fancy indexing + fill."""
    from rle_array_spark.codecs.reduce import take_any

    payload = encode_block(arr, codec)
    allow_fill = data.draw(st.booleans())
    if arr.size == 0:
        idx = np.full(data.draw(st.integers(0, 5)), -1, dtype=np.int64)
        if not allow_fill and idx.size:
            with pytest.raises(IndexError):
                take_any(codec, payload, 0, idx)
            return
    elif allow_fill:
        idx = np.asarray(
            data.draw(
                st.lists(st.integers(-1, arr.size - 1), min_size=0, max_size=60)
            ),
            dtype=np.int64,
        )
    else:
        idx = np.asarray(
            data.draw(
                st.lists(
                    st.integers(-arr.size, arr.size - 1), min_size=0, max_size=60
                )
            ),
            dtype=np.int64,
        )
    rv, rl = take_any(codec, payload, arr.size, idx, allow_fill=allow_fill,
                      fill_value=999)
    got = np.repeat(rv, rl)
    if allow_fill:
        exp = np.full(idx.size, 999, dtype=np.int32)
        real = idx != -1
        exp[real] = arr[idx[real]]
    else:
        exp = arr[idx]
    np.testing.assert_array_equal(got, exp)
    # canonical runs: neighbors differ, lengths positive
    if rv.size > 1:
        assert np.all(rv[1:] != rv[:-1])
    assert np.all(rl > 0)


@given(st.lists(st.one_of(token_arrays, run_arrays), min_size=0, max_size=12))
@settings(max_examples=60, deadline=None)
def test_ngram_encode_batch_property(rows):
    """For ANY set of non-negative int32 rows, the fused batch grammar
    build emits the solo encoder's exact bytes, row for row."""
    ng = CODECS["ngram"]
    solo = [ng.encode(r.copy()) for r in rows]
    assert ng.encode_batch([r.copy() for r in rows]) == solo


@given(st.lists(st.one_of(token_arrays, run_arrays), min_size=0, max_size=10))
@settings(max_examples=40, deadline=None)
def test_choose_codec_batch_property(rows):
    """Batch chooser == solo chooser for ANY row set (names and bytes)."""
    from rle_array_spark.chooser import choose_codec_batch

    solo = [choose_codec(r.copy()) for r in rows]
    assert choose_codec_batch([r.copy() for r in rows]) == solo


# ---- fused chain properties (token + typed kernels) ----

_CHAIN_STEP = st.one_of(
    st.tuples(st.just("add"), st.integers(0, 1000)),
    st.tuples(st.just("mul"), st.integers(0, 4)),
    st.tuples(st.just("sub_floor"), st.integers(0, 1000)),
    st.tuples(st.just("floordiv"), st.integers(1, 9)),
    st.tuples(st.just("mod"), st.integers(1, 997)),
    st.tuples(st.just("bitand"), st.integers(0, 0xFFFF)),
    st.tuples(st.just("bitor"), st.integers(0, 0xFFFF)),
    st.tuples(st.just("bitxor"), st.integers(0, 0xFFFF)),
)

small_tokens = arrays(
    dtype=np.int32,
    shape=st.integers(0, 300),
    elements=st.one_of(st.integers(0, 3), st.integers(0, 65535)),
)


@settings(max_examples=120, deadline=None)
@given(
    arr=st.one_of(small_tokens, run_arrays),
    codec=st.sampled_from(sorted(CODECS)),
    steps=st.lists(_CHAIN_STEP, min_size=1, max_size=4),
)
def test_token_chain_fused_equals_stepwise(arr, codec, steps):
    """For ANY codec, array and 1-4-step TRANSFORM_OPS chain (operands
    bounded so no path overflows int32), the fused composed map through
    transform_block_stats decodes exactly like applying the steps one at a
    time, and both equal numpy."""
    from rle_array_spark.engine import TRANSFORM_OPS

    payload = encode_block(arr, codec)
    fns = [TRANSFORM_OPS[op][0] for op, _ in steps]
    ks = [k for _, k in steps]

    def fused_fn(v):
        v = v.astype(np.int64)
        for f, k in zip(fns, ks):
            v = f(v, k)
        return v

    c_f, p_f = transform_block_stats(codec, payload, arr.size, fused_fn)[:2]
    c_s, p_s = codec, payload
    for f, k in zip(fns, ks):
        c_s, p_s = transform_block_stats(
            c_s, p_s, arr.size, lambda v, _f=f, _k=k: _f(v.astype(np.int64), _k)
        )[:2]
    out_f = decode_block(p_f, c_f, arr.size)
    out_s = decode_block(p_s, c_s, arr.size)
    np.testing.assert_array_equal(out_f, out_s)
    np.testing.assert_array_equal(out_f, fused_fn(arr).astype(np.int32))


_TYPED_STEP = st.one_of(
    st.tuples(st.just("neg"), st.none()),
    st.tuples(st.just("abs"), st.none()),
    st.tuples(st.just("add"), st.integers(-50, 50)),
    st.tuples(st.just("mul"), st.integers(-3, 3)),
    st.tuples(st.just("sub"), st.integers(-50, 50)),
    st.tuples(st.just("rsub"), st.integers(-50, 50)),
    st.tuples(st.just("min"), st.integers(-100, 100)),
    st.tuples(st.just("max"), st.integers(-100, 100)),
)


@settings(max_examples=120, deadline=None)
@given(
    vals=arrays(dtype=np.int64, shape=st.integers(0, 200),
                elements=st.integers(-1000, 1000)),
    nulls=st.data(),
    codec=st.sampled_from(["trle", "tdict", "traw", "auto"]),
    steps=st.lists(_TYPED_STEP, min_size=1, max_size=4),
)
def test_typed_chain_fused_equals_stepwise(vals, nulls, codec, steps):
    """Typed kernel: fused composed chain through transform_typed equals
    the stepwise hops bit-for-bit on live slots, null slots keep their
    validity, for ANY codec/chain draw."""
    import warnings

    from rle_array_spark.codecs.typed import decode_typed, encode_typed
    from rle_array_spark.codecs.typed_zip import transform_typed
    from rle_array_spark.typed import _resolve_typed_op

    valid = (
        np.array(
            nulls.draw(st.lists(st.booleans(), min_size=vals.size,
                                max_size=vals.size)),
            dtype=bool,
        )
        if vals.size
        else None
    )
    if valid is not None and valid.all():
        valid = None
    name, payload = encode_typed(vals, valid, codec)
    fns = [_resolve_typed_op(op, k)[0] for op, k in steps]

    def fused_fn(v):
        for f in fns:
            v = f(v)
        return v

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        c_f, p_f = transform_typed(name, payload, vals.size, fused_fn)
        c_s, p_s = name, payload
        for f in fns:
            c_s, p_s = transform_typed(c_s, p_s, vals.size, f)
    out_f, valid_f = decode_typed(c_f, memoryview(p_f), vals.size)
    out_s, valid_s = decode_typed(c_s, memoryview(p_s), vals.size)
    live = valid if valid is not None else np.ones(vals.size, dtype=bool)
    np.testing.assert_array_equal(out_f[live], out_s[live])
    np.testing.assert_array_equal(out_f[live], fused_fn(vals.copy())[live])
    np.testing.assert_array_equal(
        valid_f if valid_f is not None else np.ones(vals.size, bool),
        valid_s if valid_s is not None else np.ones(vals.size, bool),
    )
