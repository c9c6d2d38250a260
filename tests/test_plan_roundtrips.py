"""Driver-side plan building: the checkpointed writers' full-hit rerun and
the chunk-reassembly read plan are built from SQL text, with few py4j
round trips, and the SQL text quotes the caller's column names and
params keys."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rle_array_spark import tableio
from rle_array_spark.engine import decode_df
from rle_array_spark.tableio import encode_table_to_dir, encode_to_dir, read_blocks, read_snapshot

GIANT = tableio.AUTO_CHUNK_MIN + 4464  # splits under chunk_tokens="auto"


def _tokens_df(spark, tmp_path):
    lengths = [GIANT, 5, 0, 12, 300]
    table = pa.table({
        "doc_id": [f"d{i}" for i in range(len(lengths))],
        "tokens": pa.array([[j % 7 for j in range(n)] for n in lengths], pa.list_(pa.int32())),
        "n_tok": pa.array(lengths, pa.int32()),
        "source": ["giant", "a", "b", "a", "b"],
    })
    path = str(tmp_path / "seq.parquet")
    pq.write_table(table, path)
    return spark.read.parquet(path)


def _table_df(spark, col="toks"):
    rows = [(f"d{i}", "s", [i % 3] * (i % 5), [i / 8] * (i % 4)) for i in range(9)]
    ddl = "doc_id string, source string, toks array<int>, vals array<double>"
    return spark.createDataFrame(rows, ddl).toDF("doc_id", "source", col, "vals")


def test_full_hit_rerun_round_trips(spark, tmp_path, py4j_calls):
    """A full-hit rerun of either writer, and building the chunk-reassembly
    read plan, stay within loose py4j round-trip bounds (Column builders
    with PySpark's call-site capture cost ~4x these)."""
    df = _tokens_df(spark, tmp_path)
    out = str(tmp_path / "tok")
    encode_to_dir(df, out, num_partitions=4, chunk_tokens="auto")
    assert read_snapshot(out)["chunk_tokens"] == tableio.AUTO_CHUNK_MIN
    with py4j_calls() as n:
        lineage = encode_to_dir(df, out, num_partitions=4, chunk_tokens="auto")
    assert {r["status"] for r in lineage} == {"skipped"}
    assert n[0] <= 150, n[0]

    blocks = read_blocks(spark, out)
    with py4j_calls() as n:
        decoded = decode_df(blocks, reassemble_chunks=True)
    assert n[0] <= 85, n[0]
    assert decoded.where(F.size("tokens") == GIANT).count() == 1

    table = _table_df(spark)
    out = str(tmp_path / "table")
    encode_table_to_dir(table, ["toks", "vals"], out, num_partitions=4)
    with py4j_calls() as n:
        lineage = encode_table_to_dir(table, ["toks", "vals"], out, num_partitions=4)
    assert {r["status"] for r in lineage} == {"skipped"}
    assert n[0] <= 100, n[0]


def test_table_writer_quotes_column_names(spark, tmp_path):
    """An array column whose name holds a space and a backtick is written,
    and its rerun is a full hit whose pre-pass fingerprints equal the write
    kernel's (the name reaches the SQL text as an identifier and, inside
    the params key, as a string)."""
    col = "to ks`x"
    df = _table_df(spark, col)
    cols, parts = [col, "vals"], 4
    out = str(tmp_path / "odd")
    first = encode_table_to_dir(df, cols, out, num_partitions=parts)
    assert {r["status"] for r in first} == {"encoded"}
    key = read_snapshot(out)["params_key"]
    assert col in key
    rows = tableio._table_rows(df, cols, parts)
    prepass = tableio._salted_fingerprints(rows, F.col("part_id"), "n", parts, key)[0]
    assert prepass == [r["fingerprint"] for r in first]
    assert {r["status"] for r in encode_table_to_dir(df, cols, out, num_partitions=parts)} == {
        "skipped"
    }


def test_table_decode_quotes_column_names(spark, tmp_path):
    """A snapshot whose array column name holds a space and a backtick
    decodes to the input rows."""
    from rle_array_spark.tableframe import decode_table_df
    from rle_array_spark.tableio import read_table_blocks

    col = "to ks`x"
    df = _table_df(spark, col)
    out = str(tmp_path / "odd")
    encode_table_to_dir(df, [col, "vals"], out, num_partitions=4)
    decoded = decode_table_df(read_table_blocks(spark, out), {col: "int", "vals": "double"})
    assert decoded.columns == ["doc_id", "source", col, "vals"]

    def rows(d):
        return sorted(tuple(r) for r in d.select("doc_id", "source", F.col(f"`{col.replace('`', '``')}`"),
                                                 "vals").collect())

    assert rows(decoded) == rows(df)
