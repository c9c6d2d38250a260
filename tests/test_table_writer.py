"""Whole-table checkpointed writer: crash/resume, byte-determinism, and
round-trip through read_table_blocks → decode_table_df."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

from rle_array_spark.tableframe import decode_table_df
from rle_array_spark.tableio import encode_table_to_dir, read_table_blocks

N_PARTS = 5


@pytest.fixture(scope="module")
def mixed(spark):
    rng = np.random.default_rng(51)
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 30))
        rows.append((
            f"d{i:03d}", "s",
            [int(x) for x in rng.integers(0, 7, n)],
            [None if rng.random() < 0.2 else float(np.round(rng.normal(), 3)) for _ in range(n)],
            [f"t{int(rng.integers(0, 3))}" for _ in range(n)],
        ))
    return spark.createDataFrame(
        rows,
        "doc_id string, source string, toks array<int>, vals array<double>, tags array<string>",
    )


COLS = ["toks", "vals", "tags"]
TYPES = {"toks": "int", "vals": "double", "tags": "string"}


def _roundtrip_ok(spark, mixed, out):
    dec = decode_table_df(read_table_blocks(spark, out), TYPES)
    got = {r["doc_id"]: r for r in dec.collect()}
    for r in mixed.collect():
        g = got[r["doc_id"]]
        assert g["toks"] == r["toks"]
        assert g["tags"] == r["tags"]
        assert len(g["vals"]) == len(r["vals"])
        for x, y in zip(g["vals"], r["vals"]):
            assert (x is None) == (y is None)
            if x is not None:
                assert x == y


@pytest.mark.parametrize("commit_mode", ["sidecar", "manifest"])
def test_table_writer_crash_resume(spark, mixed, tmp_path, commit_mode):
    out = str(tmp_path / f"enc_{commit_mode}")
    with pytest.raises(Exception, match="injected failure"):
        encode_table_to_dir(
            mixed, COLS, out, num_partitions=N_PARTS,
            fail_at_partition=N_PARTS - 1, commit_mode=commit_mode,
        )
    done = len(glob.glob(os.path.join(out, "blocks", "*.parquet")))
    assert done > 0
    lineage = encode_table_to_dir(
        mixed, COLS, out, num_partitions=N_PARTS, commit_mode=commit_mode
    )
    statuses = [r["status"] for r in lineage]
    assert statuses.count("skipped") >= done - 1
    if commit_mode == "manifest":
        assert glob.glob(os.path.join(out, "lineage", "*.json")) == []
    _roundtrip_ok(spark, mixed, out)
    # full rerun: every non-empty partition skips
    lineage2 = encode_table_to_dir(
        mixed, COLS, out, num_partitions=N_PARTS, commit_mode=commit_mode
    )
    nonempty = [r for r in lineage2 if r["n_rows"] > 0]
    assert all(r["status"] == "skipped" for r in nonempty)


def test_table_writer_deterministic_bytes(spark, mixed, tmp_path):
    import hashlib

    outs = []
    for tag in ("a", "b"):
        out = str(tmp_path / f"det_{tag}")
        encode_table_to_dir(mixed, COLS, out, num_partitions=N_PARTS)
        outs.append({
            os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(os.path.join(out, "blocks", "*.parquet")))
        })
    assert outs[0] == outs[1]


def test_table_writer_lineage_totals(spark, mixed, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "tot")
    lineage = encode_table_to_dir(mixed, COLS, out, num_partitions=N_PARTS)
    blocks = read_table_blocks(spark, out)
    agg = blocks.agg(
        *[F.sum(f"{c}__n_values").alias(c) for c in COLS],
        *[F.sum(f"{c}__encoded_bytes").alias(f"e_{c}") for c in COLS],
    ).collect()[0]
    assert sum(r["n_tokens"] for r in lineage) == sum(agg[c] for c in COLS)
    assert sum(r["encoded_bytes"] for r in lineage) == sum(agg[f"e_{c}"] for c in COLS)


def test_table_writer_empty_input(spark, tmp_path):
    """An all-empty input commits a snapshot whose read yields an empty
    DataFrame with the committed wide schema (no zero-path crash)."""
    out = str(tmp_path / "empty")
    df = spark.createDataFrame(
        [], "doc_id string, source string, toks array<int>, tags array<string>"
    )
    lineage = encode_table_to_dir(df, ["toks", "tags"], out, num_partitions=3)
    assert all(r["n_rows"] == 0 for r in lineage)
    blocks = read_table_blocks(spark, out)
    assert blocks.count() == 0
    assert "toks__payload" in blocks.columns and "tags__card" in blocks.columns
    # a rerun resumes: an empty partition writes no file, yet its
    # committed record makes it a hit (an all-empty input may run no
    # partition at all, so every record there is checked, not counted)
    again = encode_table_to_dir(df, ["toks", "tags"], out, num_partitions=3)
    assert all(r["status"] == "skipped" for r in again)
    assert read_table_blocks(spark, out).count() == 0


def test_table_writer_manifest_histogram_survives_resume(spark, mixed, tmp_path):
    out = str(tmp_path / "hist")
    first = encode_table_to_dir(mixed, COLS, out, num_partitions=N_PARTS, commit_mode="manifest")
    second = encode_table_to_dir(mixed, COLS, out, num_partitions=N_PARTS, commit_mode="manifest")
    h1 = {r["part_id"]: r["codec_histogram"] for r in first if r["n_rows"] > 0}
    h2 = {r["part_id"]: r["codec_histogram"] for r in second if r["n_rows"] > 0}
    assert h1 == h2  # skipped partitions rebuild the histogram exactly
