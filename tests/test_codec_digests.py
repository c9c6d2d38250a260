"""Pinned outputs of every codec-level operator, without Spark.

Each family's test runs its encodes and compressed-domain operators over
fixed seeded arrays (empty, single-run, all-null, NaN-bearing, run-heavy,
high-cardinality) and hashes every output: codec names, payload bytes,
metadata tuples, decoded arrays (dtype and bytes) and raised error types.
A digest moves only when some operator's output does.

The last test keeps each payload layout with its owner: only the codec
modules parse or pack payload bytes, so the operator modules must not
import ``struct``."""

from __future__ import annotations

import ast
import hashlib
import inspect
import warnings

import numpy as np
import pyarrow as pa
import pytest

from rle_array_spark.codecs import CODECS, reduce, strings, transform, typed, typed_zip
from rle_array_spark.codecs import vdecode, zip_ops

TOKEN_CODECS = ("raw", "bitpack", "for", "rle", "dict", "ngram")


class _Digest:
    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, label: str, fn):
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                out = fn()
        except Exception as e:  # an error type is an output too
            out = ("raise", type(e).__name__)
        self.h.update(f"{label}={_canon(out)}\n".encode())

    def hexdigest(self) -> str:
        return self.h.hexdigest()


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "b:" + hashlib.sha256(bytes(v)).hexdigest()[:24]
    if isinstance(v, np.ndarray):
        if v.dtype == object:
            return "o[" + ",".join(_canon(x) for x in v.tolist()) + "]"
        data = np.ascontiguousarray(v).tobytes()
        return f"a:{v.dtype.str}:{v.shape}:" + hashlib.sha256(data).hexdigest()[:24]
    if isinstance(v, pa.Array):
        return "pa:" + _canon(v.to_pylist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "f:" + ("nan" if f != f else repr(f))
    if isinstance(v, (bool, np.bool_)):
        return f"B:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    return f"{type(v).__name__}:{v!r}"


def _token_arrays() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(7)
    motif = rng.integers(0, 500, 9)
    return {
        "empty": np.zeros(0, np.int32),
        "single": np.full(37, 5, np.int32),
        "runs": np.repeat(rng.integers(0, 6, 30), rng.integers(1, 9, 30)).astype(np.int32),
        "lowcard": rng.integers(0, 4, 150).astype(np.int32),
        "wide": rng.integers(0, 1 << 20, 150).astype(np.int32),
        "motif": np.concatenate([motif] * 14 + [rng.integers(0, 500, 4)]).astype(np.int32),
    }


def _token_digest() -> str:
    from rle_array_spark.codecs.transform import transform_block_stats

    d = _Digest()
    arrays = _token_arrays()
    enc = {}
    for an, arr in arrays.items():
        for c in TOKEN_CODECS:
            p = CODECS[c].encode(arr)
            enc[an, c] = p
            d.add(f"encode/{an}/{c}", lambda: p)
            d.add(f"decode/{an}/{c}", lambda: CODECS[c].decode(p, arr.size))
    for (an, c), p in enc.items():
        n = arrays[an].size
        for fname, fn in (
            ("shift", lambda v: v + 3),
            ("fold", lambda v: (v * 3 + 1) % 7),
            ("neg", lambda v: v - 10),
        ):
            d.add(f"transform/{an}/{c}/{fname}", lambda: transform_block_stats(c, p, n, fn))
        d.add(f"filter/{an}/{c}", lambda: zip_ops.filter_block(c, p, n, lambda v: v % 2 == 0))
        d.add(f"filter0/{an}/{c}", lambda: zip_ops.filter_block(c, p, n, lambda v: v < 0))
        idx = np.arange(0, n, 3)
        d.add(f"take/{an}/{c}", lambda: reduce.take_runs(c, p, n, idx))
        d.add(f"take_any/{an}/{c}", lambda: reduce.take_any(c, p, n, idx[::-1]))
        d.add(f"take_fill/{an}/{c}", lambda: reduce.take_any(c, p, n, [-1, 0, -1], True, 9))
        d.add(f"sort/{an}/{c}", lambda: reduce.sort_block(c, p, n))
        d.add(f"sort_desc/{an}/{c}", lambda: reduce.sort_block(c, p, n, descending=True))
        d.add(f"vc/{an}/{c}", lambda: reduce.value_counts_block(c, p, n))
        d.add(f"slice/{an}/{c}", lambda: reduce.decode_slice(c, p, n, 3, n - 2))
        d.add(f"slice1/{an}/{c}", lambda: reduce.decode_slice(c, p, n, n // 2, n // 2 + 1))
        d.add(f"sum/{an}/{c}", lambda: reduce.block_sum(c, p, n))
        d.add(f"minmax/{an}/{c}", lambda: reduce.block_min_max(c, p, n))
        d.add(f"anyall/{an}/{c}", lambda: reduce.block_any_all(c, p, n))
        d.add(f"prod/{an}/{c}", lambda: reduce.block_prod(c, p, n))
        d.add(f"prodmod/{an}/{c}", lambda: reduce.block_prod_mod(c, p, n, 1_000_003))
        d.add(f"stats/{an}/{c}", lambda: reduce.payload_stats(c, p, n))
    # pairs of equal-length arrays: values ⊕ values and values[mask]
    rng = np.random.default_rng(11)
    pairs = {
        "runs": arrays["runs"],
        "other": np.repeat(rng.integers(0, 5, 40), 4)[: arrays["runs"].size].astype(np.int32),
        "mask": (np.repeat(rng.integers(0, 2, 60), 3)[: arrays["runs"].size]).astype(np.int32),
    }
    for ca in TOKEN_CODECS:
        for cb in TOKEN_CODECS:
            pa_, pb = (CODECS[ca].encode(pairs["runs"]), CODECS[cb].encode(pairs["other"]))
            pm = CODECS[cb].encode(pairs["mask"])
            n = pairs["runs"].size
            d.add(f"zip/{ca}/{cb}", lambda: zip_ops.zip_blocks(ca, pa_, cb, pb, n, np.add))
            d.add(f"zipmax/{ca}/{cb}", lambda: zip_ops.zip_blocks(ca, pa_, cb, pb, n, np.maximum))
            d.add(f"mask/{ca}/{cb}", lambda: zip_ops.mask_blocks(ca, pa_, cb, pm, n))
    e = CODECS["rle"].encode(np.zeros(0, np.int32))
    d.add("zip/empty", lambda: zip_ops.zip_blocks("rle", e, "rle", e, 0, np.add))
    d.add("mask/empty", lambda: zip_ops.mask_blocks("rle", e, "rle", e, 0))
    return d.hexdigest()


def _typed_arrays():
    rng = np.random.default_rng(5)
    n = 120
    f = np.repeat(np.round(rng.normal(size=30), 1), 4)
    f[rng.random(n) < 0.1] = np.nan
    fv = rng.random(n) > 0.15
    ints = np.repeat(rng.integers(-3, 4, 24), 5).astype(np.int64)
    iv = np.ones(n, bool)
    iv[:7] = False
    iv[50:53] = False
    ts = np.repeat(np.arange(12, dtype=np.int64) * 10**9, 10).view("<M8[ns]")
    return {
        "f64": (f, fv),
        "f32": (f.astype(np.float32), None),
        "i64": (ints, iv),
        "bool": (np.repeat(rng.random(40) > 0.5, 3), None),
        "ts": (ts, rng.random(n) > 0.2),
        "allnull": (np.zeros(9, np.float64), np.zeros(9, bool)),
        "single": (np.full(25, 2.5), None),
        "empty": (np.zeros(0, np.float64), None),
    }


def _typed_digest() -> str:
    d = _Digest()
    arrays = _typed_arrays()
    enc = {}
    for an, (vals, valid) in arrays.items():
        for c in ("trle", "tdict", "traw", "auto"):
            name, p = typed.encode_typed(vals, valid, c)
            enc[an, c] = (name, p)
            d.add(f"encode/{an}/{c}", lambda: (name, p))
            d.add(f"decode/{an}/{c}", lambda: typed.decode_typed(name, p, vals.size))
    casts = {"f64": "<f4", "f32": "<f8", "i64": "<f8", "bool": "<i4", "ts": "<i8",
             "allnull": "<f4", "single": "<i8", "empty": "<f4"}
    fills = {"f64": 9.5, "f32": 1.0, "i64": 42, "bool": True,
             "ts": np.datetime64(5, "ns"), "allnull": 1.5, "single": 0.0, "empty": 1.0}
    for (an, c), (name, p) in enc.items():
        vals, _ = arrays[an]
        n = vals.size
        key = f"{an}/{c}"
        d.add(f"stats/{key}", lambda: typed.typed_payload_stats(name, p, n))
        d.add(f"fill_value/{key}", lambda: typed.fillna_typed(name, p, n, value=fills[an]))
        d.add(f"ffill/{key}", lambda: typed.fillna_typed(name, p, n, method="ffill"))
        d.add(f"bfill/{key}", lambda: typed.fillna_typed(name, p, n, method="bfill"))
        d.add(f"dropna/{key}", lambda: typed.dropna_typed(name, p, n))
        for k in (3, -3, 1000, -1000):
            d.add(f"shift{k}/{key}", lambda: typed.shift_typed(name, p, n, k))
        d.add(f"cast/{key}", lambda: typed.cast_typed(name, p, n, casts[an]))
        d.add(f"reverse/{key}", lambda: typed_zip.reverse_typed(name, p, n))
        idx = np.arange(0, n, 4)
        d.add(f"take/{key}", lambda: typed_zip.take_typed(name, p, n, idx))
        d.add(f"take_rev/{key}", lambda: typed_zip.take_typed(name, p, n, idx[::-1]))
        d.add(f"take_fill/{key}", lambda: typed_zip.take_typed(name, p, n, [-1, 0, -1], True))
        d.add(f"vc/{key}", lambda: typed_zip.value_counts_typed(name, p, n))
        if an in ("f64", "f32", "i64", "single", "allnull", "empty"):
            d.add(f"filter/{key}", lambda: typed_zip.filter_typed(name, p, n, "gt", 0))
            d.add(f"filter_pre/{key}", lambda: typed_zip.filter_typed(
                name, p, n, "lt", 1.0, pre_fn=np.abs))
            d.add(f"neg/{key}", lambda: typed_zip.transform_typed(name, p, n, np.negative))
            d.add(f"gt0/{key}", lambda: typed_zip.transform_typed(
                name, p, n, lambda x: x > 0, to_bool=True))
    # zips and masks over same-length, same-dtype pairs
    fa, fva = arrays["f64"]
    fb = np.roll(fa, 7)
    fvb = np.roll(fva, 3)
    for ca in ("trle", "tdict", "traw"):
        for cb in ("trle", "tdict", "traw"):
            a = typed.encode_typed(fa, fva, ca)
            b = typed.encode_typed(fb, fvb, cb)
            b_nonull = typed.encode_typed(fb, None, cb)
            for op in ("add", "lt", "max", "eq"):
                d.add(f"zip/{ca}/{cb}/{op}", lambda: typed_zip.zip_typed_blocks(
                    *a, *b, fa.size, op))
            m_vals = np.repeat(np.arange(fa.size // 6) % 3 == 0, 6)
            m = typed.encode_typed(m_vals, None, cb)
            m_null = typed.encode_typed(m_vals, fvb, cb)
            a_nonull = typed.encode_typed(np.nan_to_num(fa), None, ca)
            d.add(f"mask/{ca}/{cb}", lambda: typed_zip.mask_typed(*a, *m, fa.size))
            d.add(f"mask_null/{ca}/{cb}", lambda: typed_zip.mask_typed(*a, *m_null, fa.size))
            d.add(f"mask_pure/{ca}/{cb}", lambda: typed_zip.mask_typed(*a_nonull, *m, fa.size))
            d.add(f"zip_nonull/{ca}/{cb}", lambda: typed_zip.zip_typed_blocks(
                *a_nonull, *b_nonull, fa.size, "sub"))
    e = typed.encode_typed(np.zeros(0), None, "trle")
    d.add("zip/empty", lambda: typed_zip.zip_typed_blocks(*e, *e, 0, "lt"))
    d.add("mask/empty", lambda: typed_zip.mask_typed(*e, *typed.encode_typed(
        np.zeros(0, bool), None, "trle"), 0))
    return d.hexdigest()


def _string_arrays():
    rng = np.random.default_rng(9)
    grouped = [f"k{int(v)}" for v in np.repeat(rng.integers(0, 5, 20), 5)]
    grouped = [None if rng.random() < 0.12 else s for s in grouped]
    distinct = [f"https://example.org/item/{int(v)}/page" for v in rng.integers(0, 10**6, 100)]
    distinct[5] = None
    return {
        "grouped": pa.array(grouped, type=pa.string()),
        "distinct": pa.array(distinct, type=pa.string()),
        "lowcard": pa.array([["a", "bb", ""][int(v)] for v in rng.integers(0, 3, 100)]),
        "allnull": pa.array([None] * 6, type=pa.string()),
        "single": pa.array(["x"] * 17),
        "empty": pa.array([], type=pa.string()),
    }


def _string_digest() -> str:
    d = _Digest()
    arrays = _string_arrays()
    enc = {}
    for an, arr in arrays.items():
        for c in ("srle", "sdict", "sraw", "sfsst", "auto"):
            name, p = strings.encode_string_block(arr, c)
            enc[an, c] = (name, p)
            d.add(f"encode/{an}/{c}", lambda: (name, p))
            d.add(f"decode/{an}/{c}", lambda: strings.decode_strings(name, p, len(arr)))
            d.add(f"arrow/{an}/{c}", lambda: strings.decode_strings_arrow(name, p, len(arr)))
    for (an, c), (name, p) in enc.items():
        n = len(arrays[an])
        key = f"{an}/{c}"
        d.add(f"stats/{key}", lambda: strings.string_payload_stats(name, p, n))
        d.add(f"bytes/{key}", lambda: strings.string_value_bytes(name, p, n))
        d.add(f"fill_value/{key}", lambda: strings.fillna_strings(name, p, n, value="k1"))
        d.add(f"fill_new/{key}", lambda: strings.fillna_strings(name, p, n, value="zz"))
        d.add(f"ffill/{key}", lambda: strings.fillna_strings(name, p, n, method="ffill"))
        d.add(f"bfill/{key}", lambda: strings.fillna_strings(name, p, n, method="bfill"))
        d.add(f"dropna/{key}", lambda: strings.dropna_strings(name, p, n))
        d.add(f"filter/{key}", lambda: strings.filter_strings(name, p, n, "eq", "k1"))
        d.add(f"filter_ne/{key}", lambda: strings.filter_strings(name, p, n, "ne", "a"))
        d.add(f"filter_pre/{key}", lambda: strings.filter_strings(
            name, p, n, "eq", "K2", pre_fn=str.upper))
        idx = np.arange(0, n, 3)
        d.add(f"take/{key}", lambda: strings.take_strings(name, p, n, idx))
        d.add(f"take_rev/{key}", lambda: strings.take_strings(name, p, n, idx[::-1]))
        d.add(f"take_fill/{key}", lambda: strings.take_strings(name, p, n, [-1, 0], True))
        d.add(f"take_fillv/{key}", lambda: strings.take_strings(name, p, n, [-1, 0], True, "f"))
        d.add(f"reverse/{key}", lambda: strings.reverse_strings(name, p, n))
        d.add(f"upper/{key}", lambda: strings.transform_strings(name, p, n, str.upper))
        d.add(f"vc/{key}", lambda: strings.value_counts_strings(name, p, n))
        m_vals = np.arange(n) % 3 != 1
        for mc in ("trle", "traw"):
            m = typed.encode_typed(m_vals, None, mc)
            d.add(f"mask/{key}/{mc}", lambda: strings.mask_strings(name, p, *m, n))
        m_null = typed.encode_typed(m_vals, np.arange(n) % 5 != 0, "trle")
        d.add(f"mask_null/{key}", lambda: strings.mask_strings(name, p, *m_null, n))
    base = arrays["grouped"]
    other = pa.array(list(reversed(base.to_pylist())), type=pa.string())
    for ca in ("srle", "sdict", "sraw"):
        for cb in ("srle", "sdict", "sfsst"):
            a = strings.encode_string_block(base, ca)
            b = strings.encode_string_block(other, cb)
            for op in ("eq", "ne"):
                d.add(f"zip/{ca}/{cb}/{op}", lambda: strings.zip_strings_compare(
                    *a, *b, len(base), op))
    return d.hexdigest()


TOKEN_DIGEST = "4da4d4d60a62a07bbfafee2bf24a932313d1d4857f276f928b10ddf78ee7d08c"
TYPED_DIGEST = "6ca385445b044ea3cf9c84348aa3c3022ebd9cc61f99cd385ba3ec0a7ab09428"
STRING_DIGEST = "aa1d039d17ef531800e5a54ac1e52252f1bd30c0fddef228e81c90c7e74506fa"


def test_token_codec_ops_pinned():
    assert _token_digest() == TOKEN_DIGEST


def test_typed_codec_ops_pinned():
    assert _typed_digest() == TYPED_DIGEST


def test_string_codec_ops_pinned():
    assert _string_digest() == STRING_DIGEST


@pytest.mark.parametrize("module", [reduce, transform, zip_ops, typed_zip, vdecode])
def test_operator_modules_do_not_parse_payloads(module):
    tree = ast.parse(inspect.getsource(module))
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module)
    assert "struct" not in imported, f"{module.__name__} imports struct"
