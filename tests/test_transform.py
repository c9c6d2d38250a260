"""Compute-on-compressed tests: value-map over encoded payloads must equal
transform-then-encode (the reference's scalar-operator semantics,
/root/reference/rle_array/array.py:846-849 + recompress invariant
_algorithms.py:343-367)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rle_array_spark.codecs import CODECS, decode_block, encode_block
from rle_array_spark.codecs.transform import transform_block_stats
from rle_array_spark.engine import encode_df, transform_blocks, decode_stats_df

ARRAYS = {
    "runs": np.repeat(np.array([5, 9, 5, 0], dtype=np.int32), [100, 1, 200, 57]),
    "zipf": np.minimum(np.random.default_rng(7).zipf(1.3, 2000), 65535).astype(np.int32),
    "narrow": np.random.default_rng(8).integers(1000, 1256, 2000).astype(np.int32),
    "motifs": np.tile(np.array([10, 20, 30, 40], dtype=np.int32), 300),
    "empty": np.array([], dtype=np.int32),
    "single": np.array([3], dtype=np.int32),
}


@pytest.mark.parametrize("name", list(ARRAYS))
@pytest.mark.parametrize("codec", list(CODECS))
@pytest.mark.parametrize("op", [lambda v: v + 7, lambda v: v * 3, lambda v: v // 2])
def test_transform_equals_decode_fn_encode(codec, name, op):
    arr = ARRAYS[name]
    payload = encode_block(arr, codec)
    new_codec, new_payload = transform_block_stats(codec, payload, arr.size, op)[:2]
    out = decode_block(new_payload, new_codec, arr.size)
    np.testing.assert_array_equal(out, op(arr.astype(np.int64)).astype(np.int32))


def test_transform_rle_merges_runs():
    # floor-div collapses adjacent runs 4,5 → 2,2 which must merge
    arr = np.repeat(np.array([4, 5, 9], dtype=np.int32), [10, 10, 5])
    payload = encode_block(arr, "rle")
    _, new_payload = transform_block_stats("rle", payload, arr.size, lambda v: v // 2)[:2]
    import struct

    n_runs = struct.unpack_from("<I", new_payload, 0)[0]
    assert n_runs == 2  # [2]*20 + [4]*5
    np.testing.assert_array_equal(
        decode_block(new_payload, "rle", arr.size), arr // 2
    )


def test_transform_rle_work_is_run_proportional():
    """The payload-level transform must not expand runs: transformed RLE of
    a 1M-element 2-run array stays 2 runs and is fast."""
    arr = np.repeat(np.array([1, 2], dtype=np.int32), [500_000, 500_000])
    payload = encode_block(arr, "rle")
    import time

    t0 = time.monotonic()
    for _ in range(100):
        transform_block_stats("rle", payload, arr.size, lambda v: v + 1)
    assert time.monotonic() - t0 < 0.5  # 100 transforms of 1M elements


def test_transform_blocks_spark(sequences):
    blocks = encode_df(sequences, codec="auto")
    shifted = transform_blocks(blocks, "add", 7)
    a = decode_stats_df(shifted).select("doc_id", "tok_sum", "tok_min", "tok_max")
    b = decode_stats_df(blocks).select("doc_id", "tok_sum", "tok_min", "tok_max", "n_tok")
    j = a.alias("a").join(b.alias("b"), "doc_id")
    n = sequences.count()
    ok = j.filter(
        (F.col("a.tok_sum") == F.col("b.tok_sum") + 7 * F.col("b.n_tok"))
        & ((F.col("b.n_tok") == 0) | (F.col("a.tok_min") == F.col("b.tok_min") + 7))
        & ((F.col("b.n_tok") == 0) | (F.col("a.tok_max") == F.col("b.tok_max") + 7))
    ).count()
    assert ok == n


NUMPY_OPS = {
    "add": lambda v, k: v + k,
    "mul": lambda v, k: v * k,
    "sub_floor": lambda v, k: np.maximum(v - k, 0),
    "floordiv": lambda v, k: v // k,
    "mod": lambda v, k: v % k,
    "bitand": lambda v, k: v & k,
    "bitor": lambda v, k: v | k,
    "bitxor": lambda v, k: v ^ k,
}


NUMPY_OPS["min"] = np.minimum
NUMPY_OPS["max"] = np.maximum


@pytest.mark.parametrize("op,operand", [
    ("add", 11), ("mul", 3), ("sub_floor", 900), ("floordiv", 5),
    ("mod", 17), ("bitand", 0xFF), ("bitor", 0x40), ("bitxor", 0x155),
    ("min", 700), ("max", 300),
])
def test_transform_blocks_full_op_set(sequences, op, operand):
    """Every reference scalar operator (array.py:748-824, int-domain subset):
    transformed blocks decode to numpy-op-applied tokens, and EVERY metadata
    column matches a decode-side recompute (exact zone maps)."""
    blocks = encode_df(sequences, codec="auto")
    out = transform_blocks(blocks, op, operand)
    from rle_array_spark.engine import decode_df

    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(out).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    assert decoded.keys() == raw.keys()
    fn = NUMPY_OPS[op]
    for doc_id, tokens in raw.items():
        expect = fn(np.array(tokens, dtype=np.int64), operand).astype(np.int32)
        np.testing.assert_array_equal(np.array(decoded[doc_id], dtype=np.int32), expect)
    meta = {r["doc_id"]: r for r in
            out.select("doc_id", "n_runs", "tok_sum", "tok_min", "tok_max").collect()}
    for doc_id, tokens in raw.items():
        v = fn(np.array(tokens, dtype=np.int64), operand)
        m = meta[doc_id]
        if v.size == 0:
            assert (m["n_runs"], m["tok_sum"], m["tok_min"], m["tok_max"]) == (0, 0, 0, 0)
            continue
        assert m["tok_sum"] == int(v.sum())
        assert m["tok_min"] == int(v.min())
        assert m["tok_max"] == int(v.max())
        assert m["n_runs"] == 1 + int(np.count_nonzero(v[1:] != v[:-1]))


def test_transform_mul_zero_merges_all_runs(sequences):
    """mul 0 collapses every block to one zero-run; n_runs metadata must say
    so (the case the old analytic update got wrong)."""
    blocks = encode_df(sequences, codec="auto")
    out = transform_blocks(blocks, "mul", 0)
    rows = out.select("n_values", "n_runs", "tok_sum", "tok_max").collect()
    for r in rows:
        if r["n_values"] > 0:
            assert r["n_runs"] == 1
        assert r["tok_sum"] == 0 and r["tok_max"] == 0


def test_transform_invalid_operand_raises(sequences):
    blocks = encode_df(sequences.limit(1), codec="rle")
    with pytest.raises(ValueError, match="invalid operand"):
        transform_blocks(blocks, "mod", 0)
    with pytest.raises(ValueError, match="invalid operand"):
        transform_blocks(blocks, "pow", -1)
    with pytest.raises(ValueError, match="unsupported op"):
        transform_blocks(blocks, "truediv", 2)


def test_transform_blocks_chain_differential(sequences):
    """Fused token chain (one kernel pass) is byte-identical to the
    step-by-step composition; operand validation happens up front; an
    intermediate that overflows int32 is fine fused when the final
    result fits."""
    from rle_array_spark.engine import transform_blocks_chain

    from rle_array_spark.engine import decode_df

    blocks = encode_df(sequences, codec="auto").persist()
    chains = [
        [("add", 7), ("mul", 3), ("mod", 251)],
        [("rsub_floor", 900), ("floordiv", 2), ("bitxor", 0x55)],
        [("min", 500), ("max", 100)],  # clip(100, 500) as a chain
    ]
    meta = ["tok_sum", "tok_min", "tok_max", "n_runs"]
    for steps in chains:
        fused_df = transform_blocks_chain(blocks, steps)
        # decode-identical to the step-by-step composition (codec choice
        # may differ: stepwise hops re-choose from intermediate codecs)
        fused_tokens = {
            r["doc_id"]: r["tokens"] for r in decode_df(fused_df).collect()
        }
        step = blocks
        for op, k in steps:
            step = transform_blocks(step, op, k)
        step_rows = {r["doc_id"]: r for r in step.collect()}
        step_tokens = {
            r["doc_id"]: r["tokens"] for r in decode_df(step).collect()
        }
        assert fused_tokens == step_tokens, steps
        # exact metadata parity (zone maps stay truthful through the fusion)
        for r in fused_df.collect():
            s = step_rows[r["doc_id"]]
            assert [r[m] for m in meta] == [s[m] for m in meta], (steps, r["doc_id"])

    # intermediate leaves int32, final mod brings it back: fused accepts
    big = transform_blocks_chain(blocks, [("mul", 70000), ("mod", 1009)])
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(big).collect()}
    raw = {
        r["doc_id"]: r["tokens"]
        for r in sequences.select("doc_id", "tokens").collect()
    }
    for doc_id, tokens in raw.items():
        expect = (np.array(tokens, dtype=np.int64) * 70000) % 1009
        np.testing.assert_array_equal(
            np.array(decoded[doc_id], dtype=np.int64), expect
        )

    with pytest.raises(ValueError, match="invalid operand"):
        transform_blocks_chain(blocks, [("add", 1), ("mod", 0)])
    with pytest.raises(ValueError, match="unsupported op"):
        transform_blocks_chain(blocks, [("truediv", 2)])
    with pytest.raises(ValueError, match="empty transform chain"):
        transform_blocks_chain(blocks, [])
    blocks.unpersist()


@pytest.mark.parametrize("op,operand,fn", [
    ("rsub_floor", 700, lambda v, k: np.maximum(k - v, 0)),
    ("rfloordiv", 1000, lambda v, k: np.floor_divide(k, v, out=np.zeros_like(v), where=v != 0)),
    ("rmod", 997, lambda v, k: np.mod(k, v, out=np.zeros_like(v), where=v != 0)),
])
def test_transform_reflected_ops(sequences, op, operand, fn):
    """Reflected scalar operators (reference __rsub__/__rfloordiv__/__rmod__,
    array.py:769-801): k OP tokens, same clamp/zero-safe conventions."""
    from rle_array_spark.engine import decode_df

    blocks = encode_df(sequences, codec="auto")
    out = transform_blocks(blocks, op, operand)
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(out).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    for doc_id, tokens in raw.items():
        expect = fn(np.array(tokens, dtype=np.int64), operand)
        np.testing.assert_array_equal(np.array(decoded[doc_id], dtype=np.int64), expect)


def test_transform_rpow(sequences):
    """k ** tokens (reference __rpow__, array.py:805-807): exact for small
    exponents via a mod transform, raises on int32 overflow."""
    from rle_array_spark.engine import decode_df

    blocks = encode_df(sequences, codec="auto")
    out = transform_blocks(transform_blocks(blocks, "mod", 20), "rpow", 2)
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(out).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    for doc_id, tokens in raw.items():
        expect = 2 ** (np.array(tokens, dtype=np.int64) % 20)
        np.testing.assert_array_equal(np.array(decoded[doc_id], dtype=np.int64), expect)


def test_transform_pow(sequences):
    """`**` scalar operator (reference array.py:748-824): (tokens % 11)**2
    through two chained compressed-domain transforms decodes exactly."""
    from rle_array_spark.engine import decode_df

    blocks = encode_df(sequences, codec="auto")
    squared = transform_blocks(transform_blocks(blocks, "mod", 11), "pow", 2)
    decoded = {r["doc_id"]: r["tokens"] for r in decode_df(squared).collect()}
    raw = {r["doc_id"]: r["tokens"] for r in sequences.select("doc_id", "tokens").collect()}
    for doc_id, tokens in raw.items():
        expect = (np.array(tokens, dtype=np.int64) % 11) ** 2
        np.testing.assert_array_equal(np.array(decoded[doc_id], dtype=np.int64), expect)


def test_transform_pow_overflow_raises(spark):
    """The reference's int-overflow contract: a pow whose result leaves the
    int32 token domain must raise, never wrap (3**20 > 2^31)."""
    df = spark.createDataFrame(
        [("d1", "s0", [3] * 50)], "doc_id string, source string, tokens array<int>"
    )
    blocks = transform_blocks(encode_df(df, codec="rle"), "pow", 20)
    with pytest.raises(Exception, match="out of int32"):
        blocks.collect()


def test_transform_blocks_metadata_consistent(sequences):
    """Kernel-updated metadata must match a decode-side recompute."""
    blocks = encode_df(sequences, codec="auto")
    shifted = transform_blocks(blocks, "mul", 2)
    meta = shifted.select("doc_id", "tok_sum", "tok_min", "tok_max")
    recomputed = decode_stats_df(shifted).select("doc_id", "tok_sum", "tok_min", "tok_max")
    j = meta.alias("m").join(recomputed.alias("r"), "doc_id")
    n = sequences.count()
    ok = j.filter(
        (F.col("m.tok_sum") == F.col("r.tok_sum"))
        & (F.col("m.tok_min") == F.col("r.tok_min"))
        & (F.col("m.tok_max") == F.col("r.tok_max"))
    ).count()
    assert ok == n


def test_block_minmax_metadata(sequences):
    """tok_min/tok_max block columns equal decoded per-row min/max."""
    blocks = encode_df(sequences, codec="auto")
    meta = blocks.select("doc_id", "tok_min", "tok_max")
    dec = decode_stats_df(blocks).select("doc_id", "tok_min", "tok_max")
    j = meta.alias("m").join(dec.alias("d"), "doc_id")
    n = sequences.count()
    ok = j.filter(
        (F.col("m.tok_min") == F.col("d.tok_min"))
        & (F.col("m.tok_max") == F.col("d.tok_max"))
    ).count()
    assert ok == n
