"""Bad encode arguments raise ``ValueError`` at the call, before any job
runs or any output directory is made, instead of failing in an executor
(an unknown codec) or being taken as "no chunking" (``chunk_tokens`` < 1)."""

from __future__ import annotations

import os
import re

import pytest

from rle_array_spark.engine import encode_df
from rle_array_spark.tableframe import encode_table_df
from rle_array_spark.tableio import encode_table_to_dir, encode_to_dir

GROUP = "call-site-args"


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.range(4).selectExpr("concat('d', id) doc_id", "'s' source", "3 n_tok",
                                      "array(1, 2, 2) tokens", "array(cast(id as double), 1.5) xs")


def _raises_before_any_job(spark, out, match, fn):
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, GROUP)
    try:
        with pytest.raises(ValueError, match=match):
            fn()
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(GROUP)) == []
    assert not os.path.exists(out)


@pytest.mark.parametrize("kw, match", [
    ({"codec": "nope"}, "unknown codec 'nope'"),
    ({"codec": "trle"}, "unknown codec 'trle'"),  # another family's codec
    ({"chunk_tokens": 0}, "chunk_tokens must be None or an int >= 1, got 0"),
    ({"chunk_tokens": -2}, "chunk_tokens must be None or an int >= 1, got -2"),
    ({"chunk_tokens": "auto"}, "chunk_tokens must be None or an int >= 1"),
    ({"num_partitions": 0}, "num_partitions must be an int >= 1, got 0"),
])
def test_encode_df(spark, tiny, tmp_path, kw, match):
    _raises_before_any_job(spark, str(tmp_path / "out"), match, lambda: encode_df(tiny, **kw))


@pytest.mark.parametrize("kw, match", [
    ({"codec": "nope"}, "unknown codec 'nope'"),
    ({"chunk_tokens": 0}, "chunk_tokens must be None, 'auto' or an int >= 1, got 0"),
    ({"chunk_tokens": -2}, "got -2"),
    ({"chunk_tokens": 2.5}, "got 2.5"),
    ({"num_partitions": 0}, "num_partitions must be an int >= 1, got 0"),
    ({"num_partitions": -1}, "got -1"),
])
def test_encode_to_dir(spark, tiny, tmp_path, kw, match):
    out = str(tmp_path / "out")
    _raises_before_any_job(spark, out, match, lambda: encode_to_dir(tiny, out, **kw))


@pytest.mark.parametrize("kw, match", [
    ({"codec": "nope"}, "unknown codec 'nope'"),
    ({"num_partitions": 0}, "num_partitions must be an int >= 1, got 0"),
])
def test_encode_table_to_dir(spark, tiny, tmp_path, kw, match):
    out = str(tmp_path / "out")
    _raises_before_any_job(spark, out, match,
                           lambda: encode_table_to_dir(tiny, ["tokens", "xs"], out, **kw))


def test_table_encode_takes_every_family_codec(spark, tiny, tmp_path):
    _raises_before_any_job(spark, str(tmp_path / "out"), "unknown codec 'nope'",
                           lambda: encode_table_df(tiny, ["tokens", "xs"], codec="nope"))
    for codec in ("rle", "trle", "sdict"):  # a family-foreign name falls back to auto
        assert encode_table_df(tiny, ["tokens", "xs"], codec=codec).count() == 4


@pytest.mark.parametrize("expr, spark_type", [
    ("array(0.5, 1.5)", "array<decimal(2,1)>"),
    ("array(date'2020-01-02')", "array<date>"),
    ("array(X'0102')", "array<binary>"),
    ("array(array(1, 2))", "array<array<int>>"),
    ("array(named_struct('a', 1))", "array<struct<a:int>>"),
])
def test_table_encode_rejects_unsupported_element_types(spark, tiny, tmp_path, expr, spark_type):
    """An element type no codec family round-trips raises at the call,
    naming the column and its type, before the writer makes its dir."""
    df = tiny.selectExpr("*", f"{expr} AS bad")
    match = re.escape(f"column 'bad' of type {spark_type}")
    out = str(tmp_path / "out")
    _raises_before_any_job(spark, out, match, lambda: encode_table_df(df, ["tokens", "bad"]))
    _raises_before_any_job(spark, out, match,
                           lambda: encode_table_to_dir(df, ["xs", "bad"], out))
