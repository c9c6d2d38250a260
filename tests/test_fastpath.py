"""Fast-path enforcement: PerformanceWarning escalated to an error proves
compressed-domain paths never decode (the reference's discipline,
/root/reference/tests/test_fastpath.py:6,19-37)."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

from rle_array_spark.codecs import encode_block
from rle_array_spark.codecs.core import PerformanceWarning
from rle_array_spark.codecs.transform import transform_block_stats
from rle_array_spark.codecs.zip_ops import zip_blocks

RUNS = np.repeat(np.array([5, 9, 5, 0], dtype=np.int32), [100, 1, 200, 57])
MOTIFS = np.tile(np.array([10, 20, 30, 40], dtype=np.int32), 300)


@pytest.fixture(autouse=True)
def escalate():
    with warnings.catch_warnings():
        warnings.simplefilter("error", PerformanceWarning)
        yield


def test_rle_dict_transform_stays_compressed():
    for codec in ("rle", "dict"):
        payload = encode_block(RUNS, codec)
        transform_block_stats(codec, payload, RUNS.size, lambda v: v + 1)


def test_ngram_transform_warns():
    payload = encode_block(MOTIFS, "ngram")
    with pytest.raises(PerformanceWarning):
        transform_block_stats("ngram", payload, MOTIFS.size, lambda v: v + 1)


def test_rle_rle_zip_stays_compressed():
    a = encode_block(RUNS, "rle")
    zip_blocks("rle", a, "rle", a, RUNS.size, lambda x, y: x + y)


def test_mixed_zip_warns():
    a = encode_block(RUNS, "rle")
    b = encode_block(RUNS, "bitpack")
    with pytest.raises(PerformanceWarning):
        zip_blocks("rle", a, "bitpack", b, RUNS.size, lambda x, y: x + y)


def test_compressed_reductions_stay_compressed():
    from rle_array_spark.codecs.reduce import (
        block_any_all,
        block_min_max,
        block_sum,
        payload_stats,
    )

    for codec in ("rle", "dict"):
        payload = encode_block(RUNS, codec)
        block_sum(codec, payload, RUNS.size)
        block_min_max(codec, payload, RUNS.size)
        block_any_all(codec, payload, RUNS.size)
        payload_stats(codec, payload, RUNS.size)


def test_generic_fn_transform_fastpath_contract(spark, sequences):
    """transform_blocks_fn (the __array_ufunc__ escape hatch) must stay
    compressed-domain on RLE/DICT blocks (silent) and only warn on grammar
    codecs — same contract as the fixed op table."""
    from rle_array_spark.engine import decode_stats_df, encode_df, transform_blocks_fn

    blocks = encode_df(sequences, codec="rle")
    out = decode_stats_df(transform_blocks_fn(blocks, lambda v: (v * v) % 97))
    # differential: stats of mapped tokens vs numpy ground truth
    import pyspark.sql.functions as F

    got = {r["doc_id"]: r["tok_sum"] for r in out.collect()}
    raw = {
        r["doc_id"]: sum((t * t) % 97 for t in r["tokens"])
        for r in sequences.collect()
    }
    assert got == {k: v for k, v in raw.items() if True}


def test_generic_fn_out_of_range_raises():
    payload = encode_block(RUNS, "rle")
    with pytest.raises(ValueError, match="out of int32 token range"):
        transform_block_stats("rle", payload, RUNS.size, lambda v: v - 10**10)
