"""RLE⊕RLE union-grid op tests (reference tests/test_algorithms.py:1344-1378
extend cases + operator differential pattern)."""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest

from rle_array_spark.codecs import CODECS, decode_block, encode_block
from rle_array_spark.codecs.zip_ops import zip_blocks

RNG = np.random.default_rng(11)


def _runs_array(n_runs: int, max_len: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.repeat(
        rng.integers(0, 100, n_runs).astype(np.int32), rng.integers(1, max_len, n_runs)
    )


CASES = []
for seed in range(5):
    a = _runs_array(20, 50, seed)
    b = _runs_array(35, 40, 100 + seed)
    m = min(a.size, b.size)
    CASES.append((a[:m], b[:m]))
CASES.append((np.array([7], np.int32), np.array([9], np.int32)))
CASES.append((np.zeros(100, np.int32), np.arange(100, dtype=np.int32)))


@pytest.mark.parametrize("op", [lambda x, y: x + y, lambda x, y: x * y, np.maximum])
@pytest.mark.parametrize("case", range(len(CASES)))
def test_zip_rle_rle(case, op):
    a, b = CASES[case]
    pa_, pb = encode_block(a, "rle"), encode_block(b, "rle")
    codec, payload = zip_blocks("rle", pa_, "rle", pb, a.size, op)
    assert codec == "rle"
    out = decode_block(payload, codec, a.size)
    np.testing.assert_array_equal(out, op(a.astype(np.int64), b.astype(np.int64)).astype(np.int32))


@pytest.mark.parametrize("cb", ["dict", "bitpack", "for", "raw", "ngram"])
def test_zip_mixed_codecs_fallback(cb):
    a, b = CASES[0]
    pa_, pb = encode_block(a, "rle"), encode_block(b, cb)
    codec, payload = zip_blocks("rle", pa_, cb, pb, a.size, lambda x, y: x + y)
    out = decode_block(payload, codec, a.size)
    np.testing.assert_array_equal(out, (a.astype(np.int64) + b).astype(np.int32))


@pytest.mark.parametrize("op", [lambda x, y: x + y, lambda x, y: x * y, np.maximum])
@pytest.mark.parametrize("case", range(len(CASES)))
def test_zip_dict_dict_code_domain(case, op):
    """dict⊕dict runs in the CODE domain (pair table, values never
    gathered), emits the canonical dict payload byte-identically to
    re-encoding the decoded result, and stays silent (it is a compressed
    fast path, not a fallback)."""
    import warnings

    a, b = CASES[case]
    pa_, pb = encode_block(a, "dict"), encode_block(b, "dict")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        codec, payload = zip_blocks("dict", pa_, "dict", pb, a.size, op)
    expected = op(a.astype(np.int64), b.astype(np.int64)).astype(np.int32)
    direct = CODECS["dict"].encode(expected)
    if len(direct) <= 4 * a.size + 1:
        assert codec == "dict"
        assert payload == direct
    # tiny blocks trip the never-worse-than-raw guard and re-choose
    np.testing.assert_array_equal(decode_block(payload, codec, a.size), expected)


def test_zip_dict_dict_size_guard_falls_back():
    """When the pair table explodes (all-distinct result), dict would beat
    raw by nothing — the guard re-chooses instead of shipping a bloated
    dict block."""
    rng = np.random.default_rng(3)
    a = rng.permutation(5000).astype(np.int32)
    b = (rng.permutation(5000) * 7919 % 100_000).astype(np.int32)
    pa_, pb = encode_block(a, "dict"), encode_block(b, "dict")
    codec, payload = zip_blocks("dict", pa_, "dict", pb, a.size, lambda x, y: x * 31 + y)
    expected = (a.astype(np.int64) * 31 + b).astype(np.int32)
    np.testing.assert_array_equal(decode_block(payload, codec, a.size), expected)
    assert len(payload) <= 4 * a.size + 64


def test_zip_empty():
    codec, payload = zip_blocks(
        "rle", encode_block(np.array([], np.int32), "rle"),
        "rle", encode_block(np.array([], np.int32), "rle"),
        0, lambda x, y: x + y,
    )
    assert decode_block(payload, codec, 0).size == 0


def test_zip_result_run_count_bounded():
    """Union grid has at most runs_a + runs_b runs (reference invariant)."""
    a = np.repeat(np.array([1, 2, 3], np.int32), [1000, 1000, 1000])
    b = np.repeat(np.array([5, 6], np.int32), [1500, 1500])
    codec, payload = zip_blocks(
        "rle", encode_block(a, "rle"), "rle", encode_block(b, "rle"), a.size, lambda x, y: x + y
    )
    n_runs = struct.unpack_from("<I", payload, 0)[0]
    assert n_runs <= 5


def test_zip_work_is_run_proportional():
    a = np.repeat(np.array([1, 2], np.int32), [500_000, 500_000])
    b = np.repeat(np.array([3, 4], np.int32), [400_000, 600_000])
    pa_, pb = encode_block(a, "rle"), encode_block(b, "rle")
    t0 = time.monotonic()
    for _ in range(200):
        zip_blocks("rle", pa_, "rle", pb, a.size, lambda x, y: x + y)
    assert time.monotonic() - t0 < 0.5


def test_zip_blocks_df_spark(spark, sequences):
    """DF-level zip: a + (a mod 7), all compressed-domain, equals numpy."""
    import pyspark.sql.functions as F

    from rle_array_spark.engine import (
        decode_df,
        encode_df,
        transform_blocks,
        zip_blocks_df,
    )

    a = encode_df(sequences, codec="auto")
    b = transform_blocks(a, "mod", 7)
    zipped = zip_blocks_df(a, b, "add")
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(zipped).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    assert decoded.keys() == raw.keys()
    for doc_id, tokens in raw.items():
        v = np.array(tokens, dtype=np.int64)
        np.testing.assert_array_equal(
            np.array(decoded[doc_id], dtype=np.int64), v + v % 7
        )
    # metadata exactness on the zipped result
    meta = zipped.select("doc_id", "tok_sum", "tok_min", "tok_max").collect()
    for m in meta:
        v = np.array(raw[m["doc_id"]], dtype=np.int64)
        if v.size:
            z = v + v % 7
            assert (m["tok_sum"], m["tok_min"], m["tok_max"]) == (
                int(z.sum()), int(z.min()), int(z.max())
            )


def test_zip_blocks_df_post_chain_differential(spark, sequences):
    """``post`` steps fused into the token zip kernel are decode- and
    metadata-identical to composing transform_blocks after the zip —
    (a + (a mod 7)) * 3 % 251 as ONE pass; operand validation up front."""
    import pytest as _pytest

    from rle_array_spark.engine import (
        decode_df,
        encode_df,
        transform_blocks,
        zip_blocks_df,
    )

    a = encode_df(sequences, codec="auto").persist()
    b = transform_blocks(a, "mod", 7).persist()
    steps = [("mul", 3), ("mod", 251)]
    fused_df = zip_blocks_df(a, b, "add", post=steps)
    step = zip_blocks_df(a, b, "add")
    for op, k in steps:
        step = transform_blocks(step, op, k)
    fused_tok = {r["doc_id"]: r["tokens"] for r in decode_df(fused_df).collect()}
    step_tok = {r["doc_id"]: r["tokens"] for r in decode_df(step).collect()}
    assert fused_tok == step_tok
    meta = ["tok_sum", "tok_min", "tok_max", "n_runs"]
    step_meta = {r["doc_id"]: [r[m] for m in meta] for r in step.collect()}
    for r in fused_df.collect():
        assert [r[m] for m in meta] == step_meta[r["doc_id"]], r["doc_id"]
    with _pytest.raises(ValueError, match="invalid operand"):
        zip_blocks_df(a, b, "add", post=[("mod", 0)])
    a.unpersist(); b.unpersist()


def test_zip_frame_df_post_chain(spark, sequences):
    """frame zip with fused post chain stays join-free and equals numpy."""
    import pyspark.sql.functions as F

    from rle_array_spark.engine import decode_frame_df, encode_frame_df, zip_frame_df
    from tests.test_plans import explain_str

    two = sequences.select(
        "doc_id", "source", "tokens",
        F.expr("transform(tokens, x -> x % 7)").alias("mods"),
    )
    wide = encode_frame_df(two, ["tokens", "mods"])
    zipped = zip_frame_df(wide, "tokens", "mods", "add", out_col="z",
                          post=[("mul", 3), ("mod", 251)])
    assert "Exchange" not in explain_str(zipped)
    got = {r["doc_id"]: r["z"] for r in decode_frame_df(zipped, ["z"]).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    for doc_id, tokens in raw.items():
        v = np.array(tokens, dtype=np.int64)
        np.testing.assert_array_equal(
            np.array(got[doc_id], dtype=np.int64), (v + v % 7) * 3 % 251
        )


def test_zip_blocks_df_length_mismatch_raises(spark, sequences):
    import pytest as _pytest

    from rle_array_spark.engine import encode_df, zip_blocks_df

    a = encode_df(sequences, codec="rle")
    # b encodes a truncated copy: same doc_ids, different lengths
    import pyspark.sql.functions as F

    truncated = sequences.withColumn(
        "tokens", F.expr("slice(tokens, 1, greatest(size(tokens) - 1, 0))")
    ).withColumn("n_tok", F.greatest(F.col("n_tok") - 1, F.lit(0)))
    b = encode_df(truncated, codec="rle")
    zipped = zip_blocks_df(a, b, "add")
    from pyspark.errors.exceptions.captured import PythonException

    with _pytest.raises(PythonException, match="length mismatch"):
        zipped.count()


def test_zip_comparisons_union_grid_differential():
    """All comparison ops on the RLE union grid vs numpy ground truth
    (reference comparison coverage, tests/test_operators.py:161-341)."""
    import numpy as np

    from rle_array_spark.codecs import CODECS, encode_block
    from rle_array_spark.codecs.zip_ops import zip_blocks
    from rle_array_spark.engine import ZIP_OPS

    rng = np.random.default_rng(11)
    a = np.repeat(rng.integers(0, 9, 40), rng.integers(1, 30, 40)).astype(np.int32)
    b = np.repeat(rng.integers(0, 9, 55), rng.integers(1, 22, 55)).astype(np.int32)
    n = min(a.size, b.size)
    a, b = a[:n], b[:n]
    pa_, pb_ = encode_block(a, "rle"), encode_block(b, "rle")
    for op in ("eq", "ne", "lt", "le", "gt", "ge", "sub_floor"):
        name, payload = zip_blocks("rle", pa_, "rle", pb_, n, ZIP_OPS[op])
        assert name == "rle"
        got = CODECS["rle"].decode(payload, n)
        expect = ZIP_OPS[op](a.astype(np.int64), b.astype(np.int64))
        assert (got == expect).all(), op


def test_zip_compare_mask_compresses():
    """A comparison whose truth value flips rarely must produce few runs —
    the mask inherits the union grid, then merges equal neighbors."""
    import numpy as np

    from rle_array_spark.codecs import encode_block
    from rle_array_spark.codecs.rle import decode_runs
    from rle_array_spark.codecs.zip_ops import zip_blocks
    from rle_array_spark.engine import ZIP_OPS

    a = np.repeat(np.array([1, 5, 1], dtype=np.int32), 1000)
    b = np.full(3000, 3, dtype=np.int32)
    _, payload = zip_blocks(
        "rle", encode_block(a, "rle"), "rle", encode_block(b, "rle"), 3000, ZIP_OPS["gt"]
    )
    vals, lens = decode_runs(payload)
    assert vals.size == 3 and vals.tolist() == [0, 1, 0]


# ---- boolean-mask gather (values[mask != 0], reference array.py:655-668) ----


def _mask_case(seed: int, n: int):
    rng = np.random.default_rng(seed)
    vals = np.repeat(
        rng.integers(0, 50, 12).astype(np.int32), rng.integers(1, n // 10 + 2, 12)
    )[:n]
    mask = np.repeat(
        rng.integers(0, 2, 12).astype(np.int32), rng.integers(1, n // 10 + 2, 12)
    )[: vals.size]
    return vals[: mask.size], mask


@pytest.mark.parametrize("cv", ["rle", "dict", "bitpack", "raw"])
@pytest.mark.parametrize("cm", ["rle", "dict"])
@pytest.mark.parametrize("seed", range(6))
def test_mask_blocks_differential(cv, cm, seed):
    from rle_array_spark.codecs.zip_ops import mask_blocks

    import warnings

    vals, mask = _mask_case(seed, 200)
    pv, pm = encode_block(vals, cv), encode_block(mask, cm)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # slow-path pairs warn; tested separately
        codec, payload, new_n = mask_blocks(cv, pv, cm, pm, vals.size)
    want = vals[mask != 0]
    assert new_n == want.size
    np.testing.assert_array_equal(decode_block(payload, codec, new_n), want)


def test_mask_blocks_rle_byte_canonical():
    """RLE⊕RLE fast path must emit the same bytes as a fresh RLE encode of
    the gathered values (run-merge across dropped segments)."""
    from rle_array_spark.codecs.zip_ops import mask_blocks

    vals = np.array([5, 5, 5, 9, 9, 5, 5, 3], np.int32)
    mask = np.array([1, 1, 0, 0, 0, 1, 1, 1], np.int32)
    codec, payload, new_n = mask_blocks(
        "rle", encode_block(vals, "rle"), "rle", encode_block(mask, "rle"), vals.size
    )
    # kept = [5,5,5,5,3]: the 5-runs on both sides of the dropped segment merge
    assert (codec, new_n) == ("rle", 5)
    assert payload == encode_block(np.array([5, 5, 5, 5, 3], np.int32), "rle")


def test_mask_blocks_empty_and_allkept():
    from rle_array_spark.codecs.zip_ops import mask_blocks

    vals = np.arange(50, dtype=np.int32)
    pv = encode_block(vals, "rle")
    codec, payload, new_n = mask_blocks(
        "rle", pv, "rle", encode_block(np.zeros(50, np.int32), "rle"), 50
    )
    assert new_n == 0 and decode_block(payload, codec, 0).size == 0
    codec, payload, new_n = mask_blocks(
        "rle", pv, "rle", encode_block(np.ones(50, np.int32), "rle"), 50
    )
    assert new_n == 50
    np.testing.assert_array_equal(decode_block(payload, codec, 50), vals)
    # n == 0 input
    codec, payload, new_n = mask_blocks("raw", encode_block(vals[:0], "raw"),
                                        "raw", encode_block(vals[:0], "raw"), 0)
    assert new_n == 0


def test_mask_blocks_mixed_codec_warns():
    from rle_array_spark.codecs.core import PerformanceWarning
    from rle_array_spark.codecs.zip_ops import mask_blocks

    vals, mask = _mask_case(0, 100)
    pv, pm = encode_block(vals, "for"), encode_block(mask, "rle")
    with pytest.warns(PerformanceWarning):
        codec, payload, new_n = mask_blocks("for", pv, "rle", pm, vals.size)
    np.testing.assert_array_equal(decode_block(payload, codec, new_n), vals[mask != 0])


def test_mask_blocks_df_spark(spark, sequences):
    """DF-level mask gather: x[x % 7 >= 3] in the run domain equals numpy;
    n_values, metadata, and per-doc chunk_offset recomputed exactly
    (including docs whose mask keeps nothing)."""
    from rle_array_spark.engine import (
        decode_df,
        encode_df,
        mask_blocks_df,
        transform_blocks,
    )

    v = encode_df(sequences, codec="auto")
    mask = transform_blocks(transform_blocks(v, "mod", 7), "floordiv", 3)
    gathered = mask_blocks_df(v, mask).cache()
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(gathered).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    assert decoded.keys() == raw.keys()
    for doc_id, tokens in raw.items():
        x = np.array(tokens, dtype=np.int64)
        want = x[x % 7 >= 3]
        np.testing.assert_array_equal(np.array(decoded[doc_id], dtype=np.int64), want)
    # metadata + chunk offsets exact
    rows = gathered.select(
        "doc_id", "chunk_idx", "n_values", "tok_sum", "chunk_offset"
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_idx"])
        off = 0
        for r in rs:
            assert r["chunk_offset"] == off
            off += r["n_values"]
        x = np.array(raw[doc_id], dtype=np.int64)
        want = x[x % 7 >= 3]
        assert off == want.size
        assert sum(r["tok_sum"] for r in rs) == int(want.sum())
    gathered.unpersist()


def test_mask_blocks_nonrle_mask_compressed_values_silent():
    """bitpack/dict comparison masks (the relational-filter common case)
    must NOT force the value decode: rle values go through the run-reuse
    gather and dict values through the code domain, silently."""
    import warnings as _w

    from rle_array_spark.codecs.core import PerformanceWarning
    from rle_array_spark.codecs.zip_ops import mask_blocks

    rng = np.random.default_rng(5)
    vals = np.repeat(rng.integers(0, 50, 10).astype(np.int32), 25)
    mask = (rng.random(vals.size) > 0.5).astype(np.int32)
    for cv in ("rle", "dict"):
        for cm in ("bitpack", "dict", "raw"):
            pv, pm = encode_block(vals, cv), encode_block(mask, cm)
            with _w.catch_warnings():
                _w.simplefilter("error", PerformanceWarning)
                codec, payload, new_n = mask_blocks(cv, pv, cm, pm, vals.size)
            want = vals[mask != 0]
            assert new_n == want.size
            np.testing.assert_array_equal(
                decode_block(payload, codec, new_n), want
            )


def test_zip_ops_floordiv_mod_zero_safe():
    """Engine ZIP_OPS division pair (reference divmod): b == 0 slots yield
    0, everything else matches numpy floordiv/mod."""
    from rle_array_spark.engine import ZIP_OPS

    a = np.array([10, 7, 5, 0, 9], dtype=np.int64)
    b = np.array([3, 0, 2, 0, 9], dtype=np.int64)
    np.testing.assert_array_equal(ZIP_OPS["floordiv"](a, b), [3, 0, 2, 0, 1])
    np.testing.assert_array_equal(ZIP_OPS["mod"](a, b), [1, 0, 1, 0, 0])
    # and through the union-grid kernel
    ar = np.repeat(a, 20).astype(np.int32)
    br = np.repeat(b, 20).astype(np.int32)
    pa_, pb = encode_block(ar, "rle"), encode_block(br, "rle")
    codec, payload = zip_blocks("rle", pa_, "rle", pb, ar.size, ZIP_OPS["floordiv"])
    np.testing.assert_array_equal(
        decode_block(payload, codec, ar.size), np.repeat([3, 0, 2, 0, 1], 20)
    )


def test_zip_ops_pow():
    """Engine ZIP_OPS `**` (reference array.py:748-824): exact for small
    bases/exponents, raises (never wraps) when the result leaves int32."""
    from rle_array_spark.engine import ZIP_OPS

    a = np.array([0, 2, 3, 10, 1], dtype=np.int64)
    b = np.array([0, 10, 4, 3, 100], dtype=np.int64)
    np.testing.assert_array_equal(ZIP_OPS["pow"](a, b), [1, 1024, 81, 1000, 1])
    ar = np.repeat(a, 20).astype(np.int32)
    br = np.repeat(b, 20).astype(np.int32)
    pa_, pb = encode_block(ar, "rle"), encode_block(br, "rle")
    codec, payload = zip_blocks("rle", pa_, "rle", pb, ar.size, ZIP_OPS["pow"])
    np.testing.assert_array_equal(
        decode_block(payload, codec, ar.size), np.repeat([1, 1024, 81, 1000, 1], 20)
    )
    # overflow contract: 3**21 > 2^31 must raise through _checked_int32
    big = np.repeat(np.array([3], np.int32), 8)
    exp = np.repeat(np.array([21], np.int32), 8)
    with pytest.raises(ValueError, match="out of int32"):
        zip_blocks(
            "rle", encode_block(big, "rle"), "rle", encode_block(exp, "rle"),
            8, ZIP_OPS["pow"],
        )


# ---- fused predicate filter (values[pred(values) != 0]) ----


@pytest.mark.parametrize("codec", ["rle", "dict", "bitpack", "for", "raw", "ngram"])
@pytest.mark.parametrize("seed", range(4))
def test_filter_block_differential(codec, seed):
    from rle_array_spark.codecs.zip_ops import filter_block

    rng = np.random.default_rng(seed)
    vals = np.repeat(
        rng.integers(0, 60, 14).astype(np.int32), rng.integers(1, 25, 14)
    )
    payload = encode_block(vals, codec)
    pred = lambda v: (v % 7) // 3  # nonzero where v % 7 >= 3
    c, p, nn = filter_block(codec, payload, vals.size, pred)
    want = vals[vals % 7 >= 3]
    assert nn == want.size
    np.testing.assert_array_equal(decode_block(p, c, nn), want)


def test_filter_block_edges_and_canonical_rle():
    from rle_array_spark.codecs.zip_ops import filter_block

    vals = np.array([5, 5, 9, 9, 5, 5], np.int32)
    c, p, nn = filter_block("rle", encode_block(vals, "rle"), 6, lambda v: v == 5)
    # 5-runs merge across the dropped 9-run → byte-canonical single run
    assert (c, nn) == ("rle", 4)
    assert p == encode_block(np.full(4, 5, np.int32), "rle")
    c, p, nn = filter_block("rle", encode_block(vals, "rle"), 6, lambda v: v * 0)
    assert nn == 0
    c, p, nn = filter_block("raw", encode_block(vals[:0], "raw"), 0, lambda v: v)
    assert nn == 0
    # dict: keeps source codec, prunes table
    dv = np.array([3, 8, 3, 8, 3, 11] * 20, np.int32)
    c, p, nn = filter_block("dict", encode_block(dv, "dict"), dv.size, lambda v: v == 8)
    assert c == "dict" and nn == 40
    np.testing.assert_array_equal(decode_block(p, c, nn), np.full(40, 8))


def test_filter_blocks_df_matches_decode_and_offsets(spark, sequences):
    from pyspark.sql import functions as F

    from rle_array_spark.engine import decode_df, encode_df, filter_blocks_df

    blocks = encode_df(sequences, codec="auto")
    out = filter_blocks_df(blocks, [("mod", 7), ("floordiv", 3)]).cache()
    got = {r["doc_id"]: r["tokens"] for r in decode_df(out).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    assert got.keys() == raw.keys()
    for d, toks in raw.items():
        x = np.asarray(toks, dtype=np.int64)
        np.testing.assert_array_equal(np.asarray(got[d], dtype=np.int64), x[x % 7 >= 3])
    rows = out.select("doc_id", "chunk_idx", "n_values", "chunk_offset").collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_idx"])
        off = 0
        for r in rs:
            assert r["chunk_offset"] == off
            off += r["n_values"]
    # bad predicates rejected
    with pytest.raises(ValueError):
        filter_blocks_df(blocks, [])
    with pytest.raises(ValueError):
        filter_blocks_df(blocks, [("nope", 1)])
    out.unpersist()
