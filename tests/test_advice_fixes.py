"""Regressions for the round-2 ADVICE findings: cross-path payload byte
determinism, large_utf8 offset-width guards, skip-check file safety, and
the table-writer fingerprint XOR-cancellation."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rle_array_spark.codecs.strings import encode_sraw, encode_string_block_stats
from rle_array_spark.strings import encode_string_rows


def _rows_to_child(rows):
    flat = [x for r in rows for x in r]
    offsets = np.cumsum([0] + [len(r) for r in rows]).astype(np.int64)
    return pa.array(flat, type=pa.string()), offsets


@pytest.mark.parametrize("codec", ["auto", "srle", "sdict", "sraw"])
def test_string_encode_paths_byte_identical(codec):
    """The batch encoder (global dict, per-row localization) and the per-row
    encoder (_dict_parts) must emit IDENTICAL payload bytes for the same
    logical row — byte-level dedup/fingerprint comparability across paths.
    Regression: the batch path used sorted-global-code table order; rows
    whose appearance order differs from the batch's global order diverged."""
    rows = [
        ["a", "b"],                       # pins global order a<b
        ["b", "b", "a"],                  # row appearance b,a != sorted
        [None, "b", "a"],                 # leading null
        ["c", "b", "b", "c", None, "a"],  # the observed divergent case
        [None, None],
        [],
        ["solo"],
    ]
    child, offsets = _rows_to_child(rows)
    out = encode_string_rows(child, offsets, codec)
    for i, r in enumerate(rows):
        name, payload, n_runs, _, _ = encode_string_block_stats(
            pa.array(r, type=pa.string()), codec
        )
        assert out["codec"][i] == name, (i, r)
        assert bytes(out["payload"][i]) == payload, (i, r)
        assert out["n_runs"][i] == n_runs, (i, r)


def test_encode_sraw_large_string_guard():
    vals = ["aa", None, "b", ""]
    small = pa.array(vals, type=pa.string())
    large = pa.array(vals, type=pa.large_string())
    assert encode_sraw(large) == encode_sraw(small)
    with pytest.raises(TypeError):
        encode_sraw(pa.array([1, 2], type=pa.int32()))


def test_tokenize_kernel_large_utf8():
    """large_utf8 input (int64 offsets, e.g. Arrow useLargeVarTypes) must
    tokenize identically to utf8 — not silently misread <i4 offsets."""
    from rle_array_spark.tokenize import _tokenize_kernel

    texts = ["abc", "héllo", "日本語テキスト", "x"]
    ids = [f"d{i}" for i in range(len(texts))]

    def run(text_col):
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.string()),
                text_col,
                pa.array(["s"] * len(texts), type=pa.string()),
            ],
            names=["doc_id", "text", "source"],
        )
        (out,) = list(_tokenize_kernel([batch]))
        return out.column("tokens").to_pylist(), out.column("n_tok").to_pylist()

    small = run(pa.array(texts, type=pa.string()))
    large = run(pa.array(texts, type=pa.large_string()))
    assert small == large
    assert small[0][2] == [ord(c) for c in texts[2]]
    with pytest.raises(TypeError):
        run(pa.array([1, 2, 3, 4], type=pa.int64()))


_STATS_COLUMNS = ["codec", "n_values", "raw_bytes", "encoded_bytes", "ref_rle_bytes", "tok_sum"]


def _write_stats_file(path: str) -> bytes:
    t = pa.table(
        {
            "codec": ["rle", "dict"],
            "n_values": [10, 20],
            "raw_bytes": [40, 80],
            "encoded_bytes": [12, 30],
            "ref_rle_bytes": [24, 60],
            "tok_sum": [100, 200],
        }
    )
    pq.write_table(t, path)
    return open(path, "rb").read()


def test_skip_check_transient_error_preserves_file(tmp_path, monkeypatch):
    """A transient read failure (EMFILE, interrupted read) during the
    manifest-mode skip-check must NOT destroy the committed data file —
    earlier snapshots may reference it."""
    import rle_array_spark.tableio as tio

    path = str(tmp_path / "part-00000-abc.parquet")
    data = _write_stats_file(path)

    def boom(*a, **k):
        raise OSError("EMFILE: too many open files")

    monkeypatch.setattr(tio.pq, "read_table", boom)
    assert tio._stats_from_data_file(path, 0, "fp") is None
    assert open(path, "rb").read() == data  # untouched

    assert tio._stats_from_data_file(path, 0, "fp", {"codec": [], "n_tokens": []}) is None
    assert open(path, "rb").read() == data


def test_skip_check_corrupt_file_quarantined(tmp_path):
    """A genuinely corrupt parquet (torn footer) is quarantined to .corrupt
    rather than deleted, and the skip-check reports None so the caller
    re-encodes."""
    import rle_array_spark.tableio as tio

    path = str(tmp_path / "part-00000-abc.parquet")
    data = _write_stats_file(path)
    with open(path, "wb") as f:
        f.write(data[: len(data) // 2])

    assert tio._stats_from_data_file(path, 0, "fp") is None
    assert not os.path.exists(path)
    assert os.path.exists(path + ".corrupt")


def test_table_fingerprint_duplicate_pair_no_xor_cancel():
    """With chunk slots pinned to a constant, two identical (doc_id, n)
    rows XOR-cancel and the fingerprint equals the empty partition's —
    resume would silently reuse a stale file. Row ordinals break the
    cancellation (the table writer passes range(len(doc_ids)))."""
    from rle_array_spark.tableio import _fingerprint

    empty = _fingerprint([], [], [], "k")
    # old behavior (constant chunk slot): pair cancels — documents the bug
    assert _fingerprint(["a", "a"], [5, 5], [0, 0], "k") == empty
    # ordinal slots: no cancellation
    assert _fingerprint(["a", "a"], [5, 5], [0, 1], "k") != empty
    # and adding a duplicate pair changes the fingerprint
    one = _fingerprint(["a"], [5], [0], "k")
    three = _fingerprint(["a"] * 3, [5] * 3, [0, 1, 2], "k")
    assert one != three


# ---------------------------------------------------------------------------
# Round-4 ADVICE: fused-chain intermediate overflow must raise, never wrap
# ---------------------------------------------------------------------------

def _one_token_blocks(spark, token: int):
    from rle_array_spark.engine import encode_df

    df = spark.createDataFrame(
        [("d1", "s0", [token] * 8)],
        "doc_id string, source string, tokens array<int>",
    )
    return encode_df(df, codec="rle")


def test_chain_mul_wrap_raises(spark):
    """ADVICE r4 (medium): chain [mul 10^7, mul 10^7, mod 251] on token
    100000 used to wrap int64 mid-chain and decode 229 (true value 47) —
    the trailing mod mapped the wrap back into valid int32 range so
    _checked_int32 passed. The growth-op guard must raise instead."""
    from rle_array_spark.engine import transform_blocks_chain

    blocks = _one_token_blocks(spark, 100000)
    chained = transform_blocks_chain(
        blocks, [("mul", 10**7), ("mul", 10**7), ("mod", 251)]
    )
    with pytest.raises(Exception, match="transform overflow"):
        chained.collect()


def test_chain_pow_cast_artifact_raises(spark):
    """ADVICE r4 (medium): [pow 5, mod 251] on token 1000000 → 10^30 is
    non-finite-adjacent in float64→int64 cast terms (INT64_MIN artifact);
    used to decode 91 (true 149). Must raise at the pow step."""
    from rle_array_spark.engine import transform_blocks_chain

    blocks = _one_token_blocks(spark, 1000000)
    chained = transform_blocks_chain(blocks, [("pow", 5), ("mod", 251)])
    with pytest.raises(Exception, match="transform overflow"):
        chained.collect()


def test_chain_pow_inexact_above_2_53_raises(spark):
    """pow intermediates between 2^53 and int64 wrap are castable but
    INEXACT in float64 — a downstream mod would silently diverge from
    true integer math, so the guard raises there too (documented residual
    chain limit). 10^6 ** 3 = 10^18 > 2^53."""
    from rle_array_spark.engine import transform_blocks_chain

    blocks = _one_token_blocks(spark, 1000000)
    chained = transform_blocks_chain(blocks, [("pow", 3), ("mod", 251)])
    with pytest.raises(Exception, match="transform overflow"):
        chained.collect()


def test_chain_add_wrap_raises(spark):
    """add with a near-INT64_MAX operand wraps negative; a following max(0)
    + mod would launder it into valid range. Must raise at the add."""
    from rle_array_spark.engine import transform_blocks_chain

    blocks = _one_token_blocks(spark, 7)
    chained = transform_blocks_chain(
        blocks, [("add", 2**63 - 4), ("max", 0), ("mod", 251)]
    )
    with pytest.raises(Exception, match="transform overflow"):
        chained.collect()


def test_single_op_mul_exact_wrap_raises(spark):
    """Single-op wrap that lands back in valid int32 range: 2^30 * 2^34 is
    exactly 2^64 → wraps to 0, which _checked_int32 would happily accept.
    The guard must raise before the wrap."""
    from rle_array_spark.engine import transform_blocks

    blocks = _one_token_blocks(spark, 2**30)
    with pytest.raises(Exception, match="transform overflow"):
        transform_blocks(blocks, "mul", 2**34).collect()


def test_chain_int32_overflow_below_2_53_still_fused_ok(spark):
    """The legitimate fused-chain capability is preserved: an intermediate
    above int32 but below 2^53 (here 10^10 = 100000^2) composes exactly."""
    from rle_array_spark.engine import decode_df, transform_blocks_chain

    blocks = _one_token_blocks(spark, 100000)
    out = decode_df(
        transform_blocks_chain(blocks, [("pow", 2), ("mod", 251)])
    ).collect()
    expect = pow(100000, 2, 251)
    assert all(t == expect for r in out for t in r["tokens"])


def test_zip_post_chain_overflow_raises(spark):
    """The zips' fused post= chains share _resolve_token_chain — the guard
    must hold there too."""
    from rle_array_spark.engine import encode_df, zip_blocks_df

    df = spark.createDataFrame(
        [("d1", "s0", [100000] * 8)],
        "doc_id string, source string, tokens array<int>",
    )
    blocks = encode_df(df, codec="rle")
    zipped = zip_blocks_df(
        blocks, blocks, "add", post=[("mul", 10**7), ("mul", 10**7), ("mod", 251)]
    )
    with pytest.raises(Exception, match="transform overflow"):
        zipped.collect()
