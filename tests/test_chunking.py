"""Giant-sequence chunking tests: chunks split before the shuffle, spread
across partitions, and reassemble bit-identically (the reference concat
semantics, _algorithms.py:62-96, across block boundaries)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rle_array_spark.engine import decode_df, encode_df, verify_roundtrip
from rle_array_spark.tableio import encode_to_dir, read_blocks

CHUNK = 1000


@pytest.fixture(scope="module")
def giant_df(spark):
    rng = np.random.default_rng(21)
    rows = []
    # giants that need chunking, lengths straddling multiples of CHUNK
    for i, n in enumerate([2 * CHUNK, 2 * CHUNK + 1, 3 * CHUNK - 1, 5 * CHUNK + 7]):
        rows.append((f"giant-{i}", rng.integers(0, 100, n).astype(int).tolist(), n, "giant"))
    # and small rows that must pass through unchanged
    for i in range(10):
        n = int(rng.integers(1, CHUNK))
        rows.append((f"small-{i}", rng.integers(0, 100, n).astype(int).tolist(), n, "small"))
    rows.append(("empty", [], 0, "edge"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_chunked_roundtrip_bit_identical(giant_df):
    blocks = encode_df(giant_df, codec="auto", chunk_tokens=CHUNK)
    assert verify_roundtrip(giant_df, blocks, reassemble_chunks=True) == 0


def test_chunk_structure(giant_df):
    blocks = encode_df(giant_df, codec="auto", chunk_tokens=CHUNK).cache()
    per_doc = (
        blocks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.max("n_chunks").alias("n_chunks"),
            F.sum(F.col("n_values").cast("long")).alias("total"),
            F.max("n_values").alias("max_block"),
        )
        .collect()
    )
    info = {r["doc_id"]: r for r in per_doc}
    assert info["giant-0"]["n_blocks"] == 2  # exactly 2*CHUNK
    assert info["giant-1"]["n_blocks"] == 3  # 2*CHUNK+1
    assert info["giant-3"]["n_blocks"] == 6  # 5*CHUNK+7
    for r in per_doc:
        assert r["max_block"] <= CHUNK
        assert r["n_blocks"] == r["n_chunks"] or r["doc_id"] == "empty"
    assert info["small-0"]["n_blocks"] == 1
    blocks.unpersist()


def test_chunked_salted_spread(giant_df, spark):
    """Chunks of one giant doc must land in multiple partitions."""
    blocks = encode_df(giant_df, codec="auto", chunk_tokens=CHUNK, num_partitions=8)
    pids = (
        blocks.withColumn("pid", F.spark_partition_id())
        .filter(F.col("doc_id") == "giant-3")
        .select("pid")
        .distinct()
        .count()
    )
    assert pids >= 2


def test_chunked_checkpoint_resume(giant_df, spark, tmp_path):
    out = str(tmp_path / "enc")
    lineage = encode_to_dir(giant_df, out, num_partitions=4, chunk_tokens=CHUNK)
    assert {r["status"] for r in lineage} == {"encoded"}
    blocks = read_blocks(spark, out)
    assert verify_roundtrip(giant_df, blocks, reassemble_chunks=True) == 0
    lineage2 = encode_to_dir(giant_df, out, num_partitions=4, chunk_tokens=CHUNK)
    assert {r["status"] for r in lineage2} == {"skipped"}


def test_doc_stats_from_chunked_exact(giant_df):
    from rle_array_spark.engine import doc_stats_from_chunked, tokens_stats_df

    blocks = encode_df(giant_df, codec="auto", chunk_tokens=CHUNK)
    a = doc_stats_from_chunked(blocks)
    b = tokens_stats_df(giant_df)
    cols = ["n_tok", "tok_sum", "tok_min", "tok_max", "tok_wsum", "n_runs", "card"]
    j = a.alias("a").join(b.alias("b"), "doc_id")
    n = giant_df.count()
    assert j.count() == n
    cond = None
    for c in cols:
        eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        cond = eq if cond is None else (cond & eq)
    assert j.filter(cond).count() == n


def test_unknown_codec_raises():
    import numpy as np
    import pytest as _pytest

    from rle_array_spark.codecs import decode_block, encode_block

    with _pytest.raises(ValueError, match="unknown codec"):
        encode_block(np.array([1], np.int32), "zstd")
    with _pytest.raises(ValueError, match="unknown codec"):
        decode_block(b"\x00", "nope", 1)


def test_unchunked_path_unchanged(giant_df):
    """Without chunk_tokens everything is one block per row (n_chunks=1)."""
    blocks = encode_df(giant_df, codec="auto")
    assert blocks.filter(F.col("n_chunks") != 1).count() == 0
    assert verify_roundtrip(giant_df, blocks) == 0


def test_auto_chunk_tokens(giant_df, spark, tmp_path):
    from rle_array_spark.tableio import (
        AUTO_CHUNK_MIN,
        auto_chunk_tokens,
        encode_to_dir,
        read_blocks,
    )

    # giant_df's longest row (~5k) is under the clamp floor → no row would
    # ever split, so auto says None (unchunked identity preserved)
    assert auto_chunk_tokens(giant_df, num_partitions=4) is None
    # a corpus with a row past the floor must split
    big = giant_df.limit(0).union(
        spark.createDataFrame(
            [("huge", list(range(AUTO_CHUNK_MIN + 5)), AUTO_CHUNK_MIN + 5, "g")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
    )
    chunk2 = auto_chunk_tokens(big, num_partitions=4)
    assert chunk2 == AUTO_CHUNK_MIN
    out = str(tmp_path / "auto_enc")
    lineage = encode_to_dir(big, out, num_partitions=4, chunk_tokens="auto")
    assert sum(r["n_rows"] for r in lineage) == 2  # huge split into 2 chunks
    assert verify_roundtrip(big, read_blocks(spark, out), reassemble_chunks=True) == 0
    # resume with auto resolves to the same value → checkpoint hit
    lineage2 = encode_to_dir(big, out, num_partitions=4, chunk_tokens="auto")
    assert {r["status"] for r in lineage2} == {"skipped"}


def test_auto_chunk_none_when_no_row_splits(spark):
    from rle_array_spark.tableio import auto_chunk_tokens

    small = spark.createDataFrame(
        [("a", [1, 2, 3], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    assert auto_chunk_tokens(small, num_partitions=4) is None


def _python_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln.strip() for ln in plan.splitlines() if "MapInArrow" in ln or "Python" in ln]


def test_chunked_encode_is_one_python_node(giant_df):
    """A chunked encode without a shuffle cuts its chunks inside the
    encode kernel: one Python map node, and the rows equal those of the
    packed two-node path the salted shuffle still takes."""
    from rle_array_spark.engine import pack_tokens_df

    fused = encode_df(giant_df, chunk_tokens=CHUNK)
    assert len(_python_nodes(fused)) == 1, _python_nodes(fused)
    assert len(_python_nodes(encode_df(giant_df, chunk_tokens=CHUNK, num_partitions=4))) == 2
    packed = encode_df(pack_tokens_df(giant_df, chunk_tokens=CHUNK))
    key = ["doc_id", "chunk_idx"]
    assert fused.sort(key).collect() == packed.select(*fused.columns).sort(key).collect()


def _auto_df(spark, tmp_path, name, rows):
    """rows: (doc_id, n, stored n_tok); tokens in runs of 4."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table({
        "doc_id": [d for d, _, _ in rows],
        "tokens": pa.array([(np.arange(n) // 4 % 97).tolist() for _, n, _ in rows],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([t for _, _, t in rows], type=pa.int32()),
        "source": ["s"] * len(rows),
    }), path)
    return spark.read.parquet(path)


def test_auto_rerun_resizes_from_its_aggregate(spark, tmp_path, monkeypatch):
    """An auto rerun takes its chunk size from the fingerprint aggregate:
    when growth changes the size it writes with the new size (no sizing
    job, no stale hit), and a stale stored n_tok gives the size
    auto_chunk_tokens gives."""
    from rle_array_spark import tableio
    from rle_array_spark.tableio import AUTO_CHUNK_MIN, auto_chunk_tokens, read_snapshot

    parts, big = 3, AUTO_CHUNK_MIN + 500
    small = [(f"d{i}", 40 + i, 40 + i) for i in range(8)]
    out = str(tmp_path / "auto")
    before = _auto_df(spark, tmp_path, "before", small + [("g", AUTO_CHUNK_MIN - 1, AUTO_CHUNK_MIN - 1)])
    assert {r["status"] for r in encode_to_dir(before, out, num_partitions=parts, chunk_tokens="auto")} == {"encoded"}
    assert read_snapshot(out)["chunk_tokens"] is None

    sizing = []
    real = tableio.auto_chunk_tokens
    monkeypatch.setattr(tableio, "auto_chunk_tokens", lambda *a: sizing.append(a) or real(*a))
    grown = _auto_df(spark, tmp_path, "grown", small + [("g", big, big)])
    lineage = encode_to_dir(grown, out, num_partitions=parts, chunk_tokens="auto")
    assert sizing == []
    assert {r["status"] for r in lineage} == {"encoded"}
    assert read_snapshot(out)["chunk_tokens"] == AUTO_CHUNK_MIN == real(grown, parts)
    assert sum(r["n_rows"] for r in lineage) == len(small) + 2
    assert verify_roundtrip(grown, read_blocks(spark, out), reassemble_chunks=True) == 0

    # the same tokens with g's stored n_tok stale below the floor: sizing
    # reads n_tok like auto_chunk_tokens (never the array size), so the
    # run is unchunked; only partitions whose rows the unchunked first
    # write committed come back skipped
    stale = _auto_df(spark, tmp_path, "stale", small + [("g", big, AUTO_CHUNK_MIN - 1)])
    assert auto_chunk_tokens(stale, parts) is None
    lineage = encode_to_dir(stale, out, num_partitions=parts, chunk_tokens="auto")
    assert sizing == []
    assert read_snapshot(out)["chunk_tokens"] is None
    first = {r["fingerprint"] for r in read_snapshot(out, 1)["partitions"]}
    assert "encoded" in {r["status"] for r in lineage}
    assert all(r["fingerprint"] in first for r in lineage if r["status"] == "skipped")
    assert sum(r["n_rows"] for r in lineage) == len(small) + 1
    again = encode_to_dir(stale, out, num_partitions=parts, chunk_tokens="auto")
    assert {r["status"] for r in again} == {"skipped"} and sizing == []
