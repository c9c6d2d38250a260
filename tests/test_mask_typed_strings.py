"""Boolean-mask gather for the typed and string families: differential vs
decode → numpy boolean indexing, with SQL WHERE null-mask semantics (null
mask slot drops the row — see codecs/typed_zip.mask_typed docstring; the
reference's boolean ``__getitem__``, array.py:655-668, generalized to every
dtype)."""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa
import pytest

from rle_array_spark.codecs.strings import (
    decode_strings,
    encode_string_block,
    mask_strings,
)
from rle_array_spark.codecs.typed import decode_typed, encode_typed
from rle_array_spark.codecs.typed_zip import mask_typed, zip_typed_blocks


def _cases():
    rng = np.random.default_rng(17)
    n = 240
    runny = np.repeat(rng.normal(size=8), 30)
    noisy = rng.normal(size=n)
    ints = np.repeat(rng.integers(0, 9, 12), 20).astype(np.int64)
    ts = np.repeat(
        (np.arange(8) * 86_400_000_000).astype("datetime64[us]"), 30
    )
    vmask = rng.random(n) > 0.2
    return [
        ("float_runny", runny, None),
        ("float_noisy", noisy, None),
        ("float_masked", runny, vmask),
        ("int_runny", ints, None),
        ("int_masked", ints, vmask),
        ("ts_runny", ts, None),
    ]


def _masks(n):
    rng = np.random.default_rng(99)
    return [
        ("runny", np.repeat(rng.random(8) > 0.5, n // 8 + 1)[:n], None),
        ("noisy", rng.random(n) > 0.5, None),
        ("all_true", np.ones(n, bool), None),
        ("all_false", np.zeros(n, bool), None),
        ("null_mask", rng.random(n) > 0.5, rng.random(n) > 0.3),
    ]


@pytest.mark.parametrize("codec_v", ["trle", "tdict", "traw", "auto"])
@pytest.mark.parametrize("codec_m", ["trle", "auto"])
def test_mask_typed_differential(codec_v, codec_m):
    for vlabel, vals, vvalid in _cases():
        n = vals.size
        name_v, pv = encode_typed(np.ascontiguousarray(vals), vvalid, codec_v)
        for mlabel, mvals, mvalid in _masks(n):
            mv = np.ascontiguousarray(mvals[:n])
            name_m, pm = encode_typed(mv, mvalid, codec_m)
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")  # non-trle inputs warn
                codec, payload, new_n = mask_typed(name_v, pv, name_m, pm, n)
            keep = mv & (mvalid if mvalid is not None else True)
            exp = vals[keep]
            exp_valid = vvalid[keep] if vvalid is not None else None
            assert new_n == exp.size, (vlabel, mlabel)
            got, gvalid = decode_typed(codec, payload, new_n)
            assert got.dtype == vals.dtype, (vlabel, mlabel)
            if exp_valid is not None and not exp_valid.all():
                assert gvalid is not None
                np.testing.assert_array_equal(gvalid, exp_valid)
                np.testing.assert_array_equal(got[gvalid], exp[exp_valid])
            else:
                assert gvalid is None or gvalid.all()
                np.testing.assert_array_equal(got, exp)


def test_mask_typed_run_domain_fast_path_silent_and_canonical():
    """trle ⊕ trle without nulls must not warn, and must emit the same
    bytes as a fresh encode of the gathered values (run merge across
    dropped segments)."""
    from rle_array_spark.codecs.core import PerformanceWarning

    vals = np.array([5.0, 5.0, 5.0, 9.0, 9.0, 5.0, 5.0, 3.0])
    mask = np.array([True, True, False, False, False, True, True, True])
    nv, pv = encode_typed(vals, None, "trle")
    nm, pm = encode_typed(mask, None, "trle")
    with warnings.catch_warnings():
        warnings.simplefilter("error", PerformanceWarning)
        codec, payload, new_n = mask_typed(nv, pv, nm, pm, vals.size)
    assert new_n == 5
    exp_codec, exp_payload = encode_typed(vals[mask], None, "trle")
    assert (codec, payload) == (exp_codec, exp_payload)


def test_mask_typed_composes_with_comparison_zip():
    """arr[arr > 0] entirely in the encoded domain: comparison zip emits
    the bool mask block, mask_typed gathers with it."""
    rng = np.random.default_rng(3)
    vals = np.repeat(rng.normal(size=10), 24)
    n = vals.size
    name_v, pv = encode_typed(vals, None, "trle")
    zero = np.zeros(n)
    name_z, pz = encode_typed(zero, None, "trle")
    name_m, pm = zip_typed_blocks(name_v, pv, name_z, pz, n, "gt")
    codec, payload, new_n = mask_typed(name_v, pv, name_m, pm, n)
    got, gvalid = decode_typed(codec, payload, new_n)
    assert gvalid is None
    np.testing.assert_array_equal(got, vals[vals > 0])


def test_mask_typed_rejects_non_bool_mask_and_empty():
    vals = np.arange(10, dtype=np.int64)
    nv, pv = encode_typed(vals, None, "trle")
    with pytest.raises(ValueError, match="bool"):
        mask_typed(nv, pv, nv, pv, 10)
    ne, pe = encode_typed(np.zeros(0, np.int64), None, "trle")
    nm, pm = encode_typed(np.zeros(0, bool), None, "trle")
    codec, payload, new_n = mask_typed(ne, pe, nm, pm, 0)
    assert new_n == 0
    got, _ = decode_typed(codec, payload, 0)
    assert got.size == 0 and got.dtype == np.int64


STRING_CASES = {
    "runny": ["a"] * 30 + ["bb"] * 20 + ["a"] * 10,
    "low_card": [f"k{i % 4}" for i in range(200)],
    "distinct": [f"val-{i}" for i in range(50)],
    "with_nulls": ["x", None, None, "y", "y", None, "x"] * 10,
    "unicode": ["héllo", "wörld", "héllo", "日本語", ""] * 12,
}


@pytest.mark.parametrize("codec_v", ["srle", "sdict", "sraw", "sfsst", "auto"])
@pytest.mark.parametrize("case", sorted(STRING_CASES))
def test_mask_strings_differential(codec_v, case):
    vals = STRING_CASES[case]
    n = len(vals)
    name_v, pv = encode_string_block(pa.array(vals, type=pa.string()), codec_v)
    for mlabel, mvals, mvalid in _masks(n):
        mv = np.ascontiguousarray(mvals[:n])
        name_m, pm = encode_typed(mv, mvalid, "auto")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            codec, payload, new_n = mask_strings(name_v, pv, name_m, pm, n)
        keep = mv & (mvalid if mvalid is not None else True)
        exp = [v for v, k in zip(vals, keep) if k]
        assert new_n == len(exp), (case, mlabel)
        got, gvalid = decode_strings(codec, payload, new_n)
        out = (
            list(got)
            if gvalid is None
            else [v if ok else None for v, ok in zip(got, gvalid)]
        )
        assert out == exp, (case, mlabel)


def test_mask_strings_code_domain_for_dict_backed():
    """srle/sdict values gather codes — no string-bytes work — and the
    result re-canonicalizes to the same bytes as a fresh encode."""
    vals = ["a"] * 40 + ["bb"] * 40 + ["a"] * 20
    n = len(vals)
    name_v, pv = encode_string_block(pa.array(vals, type=pa.string()), "srle")
    mask = np.array([i % 2 == 0 for i in range(n)])
    name_m, pm = encode_typed(mask, None, "auto")
    codec, payload, new_n = mask_strings(name_v, pv, name_m, pm, n)
    assert new_n == n // 2
    got, gvalid = decode_strings(codec, payload, new_n)
    assert gvalid is None
    assert list(got) == [v for v, k in zip(vals, mask) if k]


def test_mask_strings_empty_and_non_bool():
    name_v, pv = encode_string_block(pa.array([], type=pa.string()), "sraw")
    nm, pm = encode_typed(np.zeros(0, bool), None, "trle")
    codec, payload, new_n = mask_strings(name_v, pv, nm, pm, 0)
    assert new_n == 0
    ni, pi = encode_typed(np.arange(4, dtype=np.int64), None, "trle")
    name_v4, pv4 = encode_string_block(pa.array(["a"] * 4, type=pa.string()), "srle")
    with pytest.raises(ValueError, match="bool"):
        mask_strings(name_v4, pv4, ni, pi, 4)


def test_mask_typed_df_spark(spark):
    """DF-level typed mask gather: x[x > 1.0] composed from the comparison
    zip, nulls in values carried through, n_values/metadata exact."""
    from pyspark.sql import functions as F

    from rle_array_spark.typed import (
        decode_typed_df,
        encode_typed_df,
        mask_typed_df,
        zip_typed_df,
    )

    rows = [
        ("a", "s", [0.5, 0.5, 2.0, 2.0, 2.0, 0.5, 3.0]),
        ("b", "s", [None, 2.5, 0.1, None, 9.0]),
        ("c", "s", []),
        ("d", "s", [0.25] * 300),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, vals array<double>")
    ones = df.select(
        "doc_id", "source",
        F.expr("transform(vals, x -> cast(1.0 as double))").alias("vals"),
    )
    blocks = encode_typed_df(df, "vals")
    thresh = encode_typed_df(ones, "vals")
    mask = zip_typed_df(blocks, thresh, "gt")  # x > 1.0 (null where x null)
    gathered = mask_typed_df(blocks, mask)
    got = {r["doc_id"]: r["vals"] for r in decode_typed_df(gathered, "double").collect()}
    # null comparisons are null → dropped (SQL WHERE)
    assert got["a"] == [2.0, 2.0, 2.0, 3.0]
    assert got["b"] == [2.5, 9.0]
    assert got["c"] == []
    assert got["d"] == []
    meta = {r["doc_id"]: r for r in gathered.collect()}
    assert meta["a"]["n_values"] == 4 and meta["a"]["null_count"] == 0
    assert meta["d"]["n_values"] == 0
    assert meta["a"]["val_min"] == 2.0 and meta["a"]["val_max"] == 3.0


def test_mask_strings_df_spark(spark):
    """DF-level string mask gather driven by a string-equality zip:
    s[s == t] in the code domain, nulls drop, metadata exact."""
    from pyspark.sql import functions as F

    from rle_array_spark.strings import (
        decode_strings_df,
        encode_strings_df,
        mask_strings_df,
        zip_strings_df,
    )

    rows = [
        ("a", "s", ["x", "x", "y", None, "x", "z"], ["x", "q", "y", "y", "x", "z"]),
        ("b", "s", [], []),
        ("c", "s", ["k0", "k1"] * 50, ["k0", "k0"] * 50),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, source string, vals array<string>, other array<string>",
    )
    bv = encode_strings_df(df, "vals")
    bo = encode_strings_df(df.select("doc_id", "source", F.col("other").alias("vals")), "vals")
    mask = zip_strings_df(bv, bo, "eq")
    gathered = mask_strings_df(bv, mask)
    got = {r["doc_id"]: r["vals"] for r in decode_strings_df(gathered).collect()}
    assert got["a"] == ["x", "y", "x", "z"]  # null comparison → dropped
    assert got["b"] == []
    assert got["c"] == ["k0"] * 50
    meta = {r["doc_id"]: r for r in gathered.collect()}
    assert meta["a"]["n_values"] == 4 and meta["a"]["null_count"] == 0
    assert meta["c"]["card"] == 1 and meta["c"]["codec"] in ("srle", "sdict")


# ---- fused scalar filters (values[values op c]) ----


@pytest.mark.parametrize("codec", ["trle", "tdict", "traw", "auto"])
@pytest.mark.parametrize("op", ["eq", "ne", "lt", "le", "gt", "ge"])
def test_filter_typed_differential(codec, op):
    import operator as _op

    from rle_array_spark.codecs.typed_zip import filter_typed

    py = {"eq": _op.eq, "ne": _op.ne, "lt": _op.lt,
          "le": _op.le, "gt": _op.gt, "ge": _op.ge}[op]
    for vlabel, vals, vvalid in _cases():
        thresh = float(np.nanmedian(vals.astype(np.float64))) if vals.dtype.kind == "f" else int(np.median(vals.view(np.int64)))
        if vals.dtype.kind == "M":
            thresh = vals[vals.size // 2]
        name, p = encode_typed(np.ascontiguousarray(vals), vvalid, codec)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            c, pl, nn = filter_typed(name, p, vals.size, op, thresh)
        keep = py(vals, np.asarray(thresh, dtype=vals.dtype)[()])
        if vvalid is not None:
            keep = keep & vvalid
        exp = vals[keep]
        exp_valid = vvalid[keep] if vvalid is not None else None
        assert nn == exp.size, (vlabel, op)
        got, gv = decode_typed(c, pl, nn)
        assert got.dtype == vals.dtype
        if exp_valid is not None and not exp_valid.all():
            np.testing.assert_array_equal(gv, exp_valid)
            np.testing.assert_array_equal(got[gv], exp[exp_valid])
        else:
            assert gv is None or gv.all()
            np.testing.assert_array_equal(got, exp)


def test_filter_typed_trle_run_domain_canonical_and_empty():
    from rle_array_spark.codecs.typed_zip import filter_typed

    vals = np.array([5.0, 5.0, 9.0, 9.0, 5.0, 5.0])
    name, p = encode_typed(vals, None, "trle")
    c, pl, nn = filter_typed(name, p, 6, "eq", 5.0)
    assert nn == 4
    assert (c, pl) == encode_typed(np.full(4, 5.0), None, "trle")
    c, pl, nn = filter_typed(name, p, 6, "gt", 100.0)
    assert nn == 0
    got, _ = decode_typed(c, pl, 0)
    assert got.size == 0 and got.dtype == np.float64
    with pytest.raises(ValueError, match="comparison"):
        filter_typed(name, p, 6, "add", 1.0)


@pytest.mark.parametrize("codec", ["srle", "sdict", "sraw", "sfsst", "auto"])
@pytest.mark.parametrize("op", ["eq", "ne"])
def test_filter_strings_differential(codec, op):
    from rle_array_spark.codecs.strings import filter_strings

    for case, vals in STRING_CASES.items():
        n = len(vals)
        present = next(v for v in vals if v is not None)
        name, p = encode_string_block(pa.array(vals, type=pa.string()), codec)
        c, pl, nn = filter_strings(name, p, n, op, present)
        exp = [
            v
            for v in vals
            if v is not None and ((v == present) if op == "eq" else (v != present))
        ]
        assert nn == len(exp), (case, op)
        got, gv = decode_strings(c, pl, nn)
        out = (
            list(got)
            if gv is None
            else [v if ok else None for v, ok in zip(got, gv)]
        )
        assert out == exp, (case, op)


def test_filter_strings_byte_canonical_dict():
    """srle/sdict filter output must be byte-identical to a fresh encode of
    the kept values (first-occurrence table order, pruned)."""
    from rle_array_spark.codecs.strings import encode_string_block as enc
    from rle_array_spark.codecs.strings import filter_strings

    vals = ["b", "a", "b", "c", "a", "b"] * 15
    name, p = enc(pa.array(vals, type=pa.string()), "sdict")
    c, pl, nn = filter_strings(name, p, len(vals), "ne", "c")
    kept = [v for v in vals if v != "c"]
    assert nn == len(kept)
    fresh_c, fresh_p = enc(pa.array(kept, type=pa.string()), c)
    assert pl == fresh_p



@pytest.mark.parametrize("codec", ["srle", "sdict", "sraw", "sfsst", "auto"])
def test_filter_strings_all_null_block(codec):
    """An all-null block (an empty table under srle/sdict) filters to the
    empty sraw block under every codec, with or without a predicate map."""
    from rle_array_spark.codecs.strings import filter_strings

    name, p = encode_string_block(pa.array([None] * 6, type=pa.string()), codec)
    empty = encode_string_block(pa.array([], type=pa.string()), "sraw")
    for op, pre_fn in (("eq", None), ("ne", None), ("eq", str.upper)):
        assert filter_strings(name, p, 6, op, "x", pre_fn=pre_fn) == (*empty, 0)

def test_filter_typed_df_and_filter_strings_df(spark):
    from pyspark.sql import functions as F

    from rle_array_spark.strings import (
        decode_strings_df,
        encode_strings_df,
        filter_strings_df,
    )
    from rle_array_spark.typed import (
        decode_typed_df,
        encode_typed_df,
        filter_typed_df,
    )

    rows = [
        ("a", "s", [0.5, 2.0, None, 3.5, 0.1]),
        ("b", "s", []),
        ("c", "s", [9.0] * 200),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, vals array<double>")
    out = filter_typed_df(encode_typed_df(df, "vals"), "gt", 1.0)
    got = {r["doc_id"]: r["vals"] for r in decode_typed_df(out, "double").collect()}
    assert got["a"] == [2.0, 3.5] and got["b"] == [] and got["c"] == [9.0] * 200
    meta = {r["doc_id"]: r for r in out.collect()}
    assert meta["a"]["n_values"] == 2 and meta["a"]["null_count"] == 0

    srows = [
        ("a", "s", ["x", "y", None, "x"]),
        ("b", "s", ["y"] * 50),
    ]
    sdf = spark.createDataFrame(srows, "doc_id string, source string, vals array<string>")
    sout = filter_strings_df(encode_strings_df(sdf, "vals"), "eq", "x")
    sgot = {r["doc_id"]: r["vals"] for r in decode_strings_df(sout).collect()}
    assert sgot["a"] == ["x", "x"] and sgot["b"] == []


def test_filter_strings_df_pre_map(spark):
    """Predicate-domain str map fused into the string filter:
    s[upper(s) == 'X'] keeps ORIGINAL strings across codecs; ne inverts;
    nulls drop; equals composing transform → filter."""
    from rle_array_spark.strings import (
        decode_strings_df,
        encode_strings_df,
        filter_strings_df,
        transform_strings_df,
    )

    rows = [
        ("a", "s", ["x", "X", None, "y", "x"]),
        ("b", "s", []),
        ("c", "s", ["y"] * 80 + ["X"] * 3),
        ("d", "s", ["click", "CLICK", "Click", "other"]),
    ]
    sdf = spark.createDataFrame(rows, "doc_id string, source string, vals array<string>")
    blocks = encode_strings_df(sdf, "vals").persist()

    out = filter_strings_df(blocks, "eq", "X", pre=str.upper)
    got = {r["doc_id"]: r["vals"] for r in decode_strings_df(out).collect()}
    assert got["a"] == ["x", "X", "x"] and got["b"] == []
    assert got["c"] == ["X"] * 3
    assert got["d"] == []

    out_ne = filter_strings_df(blocks, "ne", "CLICK", pre=str.upper)
    got_ne = {r["doc_id"]: r["vals"] for r in decode_strings_df(out_ne).collect()}
    assert got_ne["d"] == ["other"]

    # equals the two-pass composition (transform upper, then plain filter)
    comp = filter_strings_df(transform_strings_df(blocks, str.upper), "eq", "X")
    got_comp = {r["doc_id"]: len(r["vals"]) for r in decode_strings_df(comp).collect()}
    assert {d: len(v) for d, v in got.items()} == got_comp
    blocks.unpersist()


def test_filter_typed_df_pre_chain(spark):
    """Derived-value predicate fused into the typed filter:
    a[abs(a) > c] and a[(a mod k) == r] keep ORIGINAL values, one kernel
    pass, across trle/tdict/traw inputs; null slots drop; a comparison in
    the pre chain raises."""
    import numpy as np
    import pytest as _pytest

    from rle_array_spark.typed import (
        decode_typed_df,
        encode_typed_df,
        filter_typed_df,
    )

    rng = np.random.default_rng(82)
    rows = []
    raw = {}
    for d in range(12):
        n = int(rng.integers(0, 140))
        vals = np.repeat(rng.integers(-40, 40, n // 5 + 1), 5)[:n]
        mask = rng.random(n) < 0.2
        rows.append(
            (f"d{d:02d}", "s", [None if m else int(v) for v, m in zip(vals, mask)])
        )
        raw[f"d{d:02d}"] = (vals, mask)
    df = spark.createDataFrame(rows, "doc_id string, source string, vals array<long>")
    blocks = encode_typed_df(df, "vals").persist()

    cases = [
        ([("abs", None)], "gt", 20, lambda v: np.abs(v) > 20),
        ([("mod", 7)], "eq", 3, lambda v: v % 7 == 3),
        ([("mul", 2), ("sub", 5)], "le", 0, lambda v: v * 2 - 5 <= 0),
    ]
    for pre, op, c, npref in cases:
        out = filter_typed_df(blocks, op, c, pre=pre)
        got = {r["doc_id"]: r["vals"] for r in decode_typed_df(out, "long").collect()}
        for d, (vals, mask) in raw.items():
            keep = npref(vals.astype(np.int64)) & ~mask
            assert got[d] == [int(v) for v in vals[keep]], (pre, op, c, d)

    with _pytest.raises(ValueError, match="pre chain must be arithmetic"):
        filter_typed_df(blocks, "gt", 0, pre=[("ge", 0)])
    blocks.unpersist()


# ---- compressed-domain value_counts for typed/string families ----


@pytest.mark.parametrize("codec", ["trle", "tdict", "traw", "auto"])
def test_value_counts_typed_differential(codec):
    from rle_array_spark.codecs.typed_zip import value_counts_typed

    for vlabel, vals, vvalid in _cases():
        name, p = encode_typed(np.ascontiguousarray(vals), vvalid, codec)
        got_v, got_c = value_counts_typed(name, p, vals.size)
        live = vals if vvalid is None else vals[vvalid]
        bits = live.view(f"<u{vals.dtype.itemsize}" if vals.dtype.itemsize > 1 else "<u1")
        exp_bits, exp_c = np.unique(np.ascontiguousarray(bits), return_counts=True)
        np.testing.assert_array_equal(
            np.ascontiguousarray(got_v).view(exp_bits.dtype), exp_bits, err_msg=vlabel
        )
        np.testing.assert_array_equal(got_c, exp_c, err_msg=vlabel)
        assert got_v.dtype == vals.dtype


@pytest.mark.parametrize("codec", ["srle", "sdict", "sraw", "sfsst", "auto"])
def test_value_counts_strings_differential(codec):
    from rle_array_spark.codecs.strings import value_counts_strings

    for case, vals in STRING_CASES.items():
        name, p = encode_string_block(pa.array(vals, type=pa.string()), codec)
        got_v, got_c = value_counts_strings(name, p, len(vals))
        live = [v for v in vals if v is not None]
        exp = {}
        for v in live:
            exp[v] = exp.get(v, 0) + 1
        assert dict(zip(got_v.tolist(), got_c.tolist())) == exp, (case, codec)


def test_value_counts_typed_strings_df(spark):
    from rle_array_spark.strings import encode_strings_df, value_counts_strings_df
    from rle_array_spark.typed import encode_typed_df, value_counts_typed_df

    rows = [
        ("a", "s", [1.5, 1.5, None, 2.0, 1.5]),
        ("b", "s", [7.0] * 100),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, vals array<double>")
    vc = {
        (r["doc_id"], r["value"]): r["count"]
        for r in value_counts_typed_df(encode_typed_df(df, "vals"), "double").collect()
    }
    assert vc == {("a", 1.5): 3, ("a", 2.0): 1, ("b", 7.0): 100}

    srows = [("a", "s", ["x", None, "x", "y"]), ("b", "s", ["k"] * 30)]
    sdf = spark.createDataFrame(srows, "doc_id string, source string, vals array<string>")
    svc = {
        (r["doc_id"], r["value"]): r["count"]
        for r in value_counts_strings_df(encode_strings_df(sdf, "vals")).collect()
    }
    assert svc == {("a", "x"): 2, ("a", "y"): 1, ("b", "k"): 30}
