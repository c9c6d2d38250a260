"""Streaming encode tests: exactly-once across restarts, round-trip parity
with the batch path."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rle_array_spark.datagen import generate_block
from rle_array_spark.engine import verify_roundtrip
from rle_array_spark.streaming import encode_stream


def _write_shard(input_dir: str, block_id: int) -> None:
    os.makedirs(input_dir, exist_ok=True)
    batch = generate_block(block_id, rows_per_source=8)
    pq.write_table(
        pa.Table.from_batches([batch]),
        os.path.join(input_dir, f"shard-{block_id:04d}.parquet"),
    )


def test_streaming_encode_incremental_exactly_once(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_shard(input_dir, 0)
    encode_stream(spark, input_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == generate_block(0, 8).num_rows

    # new shard arrives; restart with same checkpoint → only the new shard
    _write_shard(input_dir, 1)
    encode_stream(spark, input_dir, out_dir, ckpt)
    blocks = spark.read.parquet(out_dir)
    assert blocks.count() == n1 + generate_block(1, 8).num_rows
    # no duplicates
    assert blocks.select("doc_id").distinct().count() == blocks.count()

    # streamed blocks decode bit-identically vs the input shards
    seq = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(input_dir)
    assert verify_roundtrip(seq, blocks) == 0

    # drain with nothing new is a no-op
    encode_stream(spark, input_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == blocks.count()


def test_streaming_blocks_match_batch_metadata(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_shard(input_dir, 2)
    encode_stream(spark, input_dir, out_dir, ckpt)
    streamed = spark.read.parquet(out_dir)
    from rle_array_spark.engine import encode_df

    seq = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(input_dir)
    batch = encode_df(seq, codec="auto")
    a = streamed.agg(F.sum("encoded_bytes").alias("e"), F.sum("tok_sum").alias("s")).collect()[0]
    b = batch.agg(F.sum("encoded_bytes").alias("e"), F.sum("tok_sum").alias("s")).collect()[0]
    assert (a["e"], a["s"]) == (b["e"], b["s"])


def test_stateful_running_source_stats(spark, tmp_path):
    """Custom stateful operator: running totals keyed by source persist in
    the state store across drain/restart cycles."""
    from rle_array_spark.streaming import running_source_stats_stream

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt2")

    _write_shard(input_dir, 0)
    running_source_stats_stream(spark, input_dir, out_dir, ckpt)
    first = {r["source"]: r for r in spark.read.parquet(out_dir).collect()}
    b0 = generate_block(0, 8)
    import collections

    per_source0 = collections.Counter(b0.column("source").to_pylist())
    assert {s: r["docs"] for s, r in first.items()} == dict(per_source0)

    # second shard: running totals must ACCUMULATE (state survived restart)
    _write_shard(input_dir, 1)
    running_source_stats_stream(spark, input_dir, out_dir, ckpt)
    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:  # keep max-docs row per source = latest emission
        if r["source"] not in latest or r["docs"] > latest[r["source"]]["docs"]:
            latest[r["source"]] = r
    per_source1 = collections.Counter(generate_block(1, 8).column("source").to_pylist())
    expected = {s: per_source0[s] + per_source1[s] for s in per_source0}
    assert {s: r["docs"] for s, r in latest.items()} == expected
    # token totals match the batch-side ground truth
    seq = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(input_dir)
    truth = {
        r["source"]: r["t"]
        for r in seq.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
    }
    assert {s: r["tokens"] for s, r in latest.items()} == truth


def test_streaming_table_encode_roundtrip(spark, tmp_path):
    """Mixed-dtype table encode under Structured Streaming: drain with
    availableNow, then restart exactly-once after new files land."""
    import numpy as np

    from rle_array_spark.streaming import encode_table_stream
    from rle_array_spark.tableframe import decode_table_df

    schema = "doc_id string, source string, toks array<int>, tags array<string>"
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    rows1 = [(f"a{i}", "s", [i % 3] * 8, [f"t{i % 2}"] * 8) for i in range(10)]
    spark.createDataFrame(rows1, schema).write.mode("overwrite").parquet(inp)
    encode_table_stream(spark, inp, schema, ["toks", "tags"], out, ckpt)

    rows2 = [(f"b{i}", "s", [5] * 4, ["x"] * 4) for i in range(5)]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(inp)
    encode_table_stream(spark, inp, schema, ["toks", "tags"], out, ckpt)

    blocks = spark.read.parquet(out)
    assert blocks.count() == 15  # exactly-once: no re-emitted first batch
    dec = decode_table_df(blocks, {"toks": "int", "tags": "string"})
    got = {r["doc_id"]: r for r in dec.collect()}
    for doc_id, _, toks, tags in rows1 + rows2:
        assert got[doc_id]["toks"] == toks and got[doc_id]["tags"] == tags


def test_streaming_dedup_across_batches(spark, tmp_path):
    """Cross-batch exact dedup: a text seen in shard 1 must NOT survive
    again when shard 2 re-delivers it (state store remembers across
    restarts); in-batch duplicates keep the lexicographic-min doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rle_array_spark.streaming import dedup_stream

    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "docs_out")
    ckpt = str(tmp_path / "docs_ckpt")
    os.makedirs(input_dir)

    def shard(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "source": ["s"] * len(rows),
                }
            ),
            os.path.join(input_dir, name),
        )

    # shard 1: A twice (in-batch dup), B once, sub-SHINGLE_K text (filtered,
    # matching the batch path's _docs_prepared eligibility), empty (filtered)
    shard("s1.parquet", [("d2", "AAAAA"), ("d1", "AAAAA"), ("d3", "BBBBB"),
                         ("d8", "DDDD"), ("d9", "")])
    dedup_stream(spark, input_dir, out_dir, ckpt)
    out1 = {r["doc_id"]: r["n_chars"] for r in spark.read.parquet(out_dir).collect()}
    assert out1 == {"d1": 5, "d3": 5}  # lexicographic-min rep of A, plus B

    # shard 2 (restart, same checkpoint): A again (must be dropped), C new
    shard("s2.parquet", [("d4", "AAAAA"), ("d5", "CCCCC")])
    dedup_stream(spark, input_dir, out_dir, ckpt)
    out2 = {r["doc_id"]: r["n_chars"] for r in spark.read.parquet(out_dir).collect()}
    assert out2 == {"d1": 5, "d3": 5, "d5": 5}


def test_streaming_running_quantiles_match_batch(spark, tmp_path):
    """Streaming exact quantiles: after draining two shards, the latest
    emission per source equals the BATCH source_quantiles_df answer over
    the same rows (state merged compressed-domain histograms across
    restarts)."""
    from rle_array_spark.engine import encode_df, source_quantiles_df
    from rle_array_spark.streaming import running_quantiles_stream

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "quants")
    ckpt = str(tmp_path / "ckptq")

    _write_shard(input_dir, 0)
    running_quantiles_stream(spark, input_dir, out_dir, ckpt)
    _write_shard(input_dir, 1)
    running_quantiles_stream(spark, input_dir, out_dir, ckpt)

    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in rows:  # max-n_toks row per source = latest emission
        if r["source"] not in latest or r["n_toks"] > latest[r["source"]]["n_toks"]:
            latest[r["source"]] = r
    seq = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(input_dir)
    batch = {
        r["source"]: r
        for r in source_quantiles_df(encode_df(seq, codec="auto")).collect()
    }
    assert set(latest) == set(batch)
    for s, want in batch.items():
        got = latest[s]
        assert got["n_toks"] == want["n_toks"], s
        for c in ("p25", "p50", "p75"):
            assert got[c] == want[c], (s, c)


def test_streaming_pack_parity_and_carry(spark, tmp_path):
    """Streaming sequence packing: a single-wave drain reproduces the
    batch kernel bit-for-bit (same sort key, same _pack_segment state
    step); a second wave (restart, same checkpoint) continues each
    shard's open example from the state store — dense example ids, exact
    seq_len, and per-shard counts equal to floor(total_tokens/L) over
    BOTH waves combined."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rle_array_spark import packing as PK
    from rle_array_spark.streaming import pack_stream

    L, NS = 32, 4
    rng = np.random.default_rng(21)
    input_dir = str(tmp_path / "seq_in")
    out_dir = str(tmp_path / "packed_out")
    ckpt = str(tmp_path / "packed_ckpt")
    os.makedirs(input_dir)

    def wave(name, ids):
        rows = []
        for i in ids:
            n = int(rng.integers(1, 4 * L))
            rows.append(
                (f"w{i:03d}", rng.integers(0, 999, size=n).astype(np.int32))
            )
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.string()),
                    "tokens": pa.array(
                        [r[1].tolist() for r in rows],
                        type=pa.list_(pa.int32()),
                    ),
                    "n_tok": pa.array(
                        [len(r[1]) for r in rows], type=pa.int32()
                    ),
                    "source": pa.array(["s"] * len(rows), type=pa.string()),
                }
            ),
            os.path.join(input_dir, name),
        )

    wave("w1.parquet", range(40))
    pack_stream(spark, input_dir, out_dir, ckpt, seq_len=L, n_shards=NS)
    got1 = sorted(
        (r["shard"], r["example_id"], r["n_pieces"], tuple(r["tokens"]))
        for r in spark.read.parquet(out_dir).collect()
    )
    # single wave in one micro-batch == the batch kernel on the same files
    batch = sorted(
        (r["shard"], r["example_id"], r["n_pieces"], tuple(r["tokens"]))
        for r in PK.pack_examples_kernel(
            spark.read.parquet(input_dir), seq_len=L, n_shards=NS
        ).collect()
    )
    assert got1 == batch and len(got1) > 5

    # wave 2: restart with the same checkpoint — open examples continue
    wave("w2.parquet", range(100, 140))
    pack_stream(spark, input_dir, out_dir, ckpt, seq_len=L, n_shards=NS)
    rows = spark.read.parquet(out_dir).collect()
    assert all(len(r["tokens"]) == L for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["example_id"])
    # expected per-shard counts from the deterministic shard assignment
    seq_all = spark.read.parquet(input_dir)
    totals = {
        r["shard"]: r["tot"]
        for r in PK._keyed(seq_all, NS, PK.PACK_SEED)
        .groupBy("shard")
        .agg(F.sum("n_tok").alias("tot"))
        .collect()
    }
    for sh, tot in totals.items():
        ids = sorted(by_shard.get(sh, []))
        assert len(ids) == tot // L, (sh, len(ids), tot)
        assert ids == list(range(len(ids)))  # dense, no dup/loss on restart


def test_streaming_pack_many_microbatches(spark, tmp_path):
    """Ten single-file micro-batches: the per-shard carry state evolves
    through ten generations and still lands on exact floor(tokens/L)
    counts with dense ids, every example exactly L long."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rle_array_spark import packing as PK
    from rle_array_spark.streaming import pack_stream

    L, NS = 16, 2
    rng = np.random.default_rng(33)
    input_dir = str(tmp_path / "mb_in")
    out_dir = str(tmp_path / "mb_out")
    ckpt = str(tmp_path / "mb_ckpt")
    os.makedirs(input_dir)
    for w in range(10):
        rows = [
            (
                f"f{w}d{i}",
                rng.integers(0, 99, size=int(rng.integers(1, 3 * L)))
                .astype(np.int32),
            )
            for i in range(6)
        ]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.string()),
                    "tokens": pa.array(
                        [r[1].tolist() for r in rows], type=pa.list_(pa.int32())
                    ),
                    "n_tok": pa.array([len(r[1]) for r in rows], type=pa.int32()),
                    "source": pa.array(["s"] * len(rows), type=pa.string()),
                }
            ),
            os.path.join(input_dir, f"w{w:02d}.parquet"),
        )
    pack_stream(
        spark, input_dir, out_dir, ckpt,
        seq_len=L, n_shards=NS, max_files_per_trigger=1,
    )
    rows = spark.read.parquet(out_dir).collect()
    assert all(len(r["tokens"]) == L for r in rows)
    totals = {
        r["shard"]: r["tot"]
        for r in PK._keyed(spark.read.parquet(input_dir), NS, PK.PACK_SEED)
        .groupBy("shard")
        .agg(F.sum(F.size("tokens")).alias("tot"))
        .collect()
    }
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["example_id"])
    for sh, tot in totals.items():
        ids = sorted(by_shard.get(sh, []))
        assert len(ids) == tot // L, (sh, len(ids), tot)
        assert ids == list(range(len(ids)))


def test_state_partitions_knob_invariant_and_restores_conf(spark, tmp_path):
    """state_partitions must be INVISIBLE in results: it sizes the state
    store (fixed at the checkpoint's first batch), never the answer.
    Quantiles emissions with the knob equal the default run row-for-row,
    restart continues under the knob, and the session conf is restored."""
    from rle_array_spark.streaming import running_quantiles_stream

    def drain(tag, **kw):
        input_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        running_quantiles_stream(spark, input_dir, out_dir, ckpt, **kw)
        return out_dir, ckpt

    _write_shard(str(tmp_path / "in"), 0)
    _write_shard(str(tmp_path / "in"), 1)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    out_def, _ = drain("default", max_files_per_trigger=1)
    out_k, ckpt_k = drain("knob", max_files_per_trigger=1, state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def emissions(path):
        return sorted(
            tuple(r[c] for c in ("source", "n_toks", "p25", "p50", "p75"))
            for r in spark.read.parquet(path).collect()
        )

    assert emissions(out_def) == emissions(out_k)
    assert len(emissions(out_k)) > 0

    # a later shard resumes the SAME checkpoint (its recorded partition
    # count wins) and still merges state correctly
    _write_shard(str(tmp_path / "in"), 2)
    running_quantiles_stream(
        spark, str(tmp_path / "in"), out_k, ckpt_k,
        max_files_per_trigger=1, state_partitions=3,
    )
    running_quantiles_stream(
        spark, str(tmp_path / "in"), out_def, str(tmp_path / "ckpt_default"),
        max_files_per_trigger=1,
    )
    assert emissions(out_def) == emissions(out_k)


def test_state_partitions_rejects_nonpositive(spark, tmp_path):
    import pytest as _pytest

    from rle_array_spark.streaming import running_quantiles_stream

    _write_shard(str(tmp_path / "in"), 0)
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="state_partitions"):
            running_quantiles_stream(
                spark, str(tmp_path / "in"), str(tmp_path / "out"),
                str(tmp_path / "ckpt"), state_partitions=bad,
            )


def test_state_partitions_scoped_to_start(spark, tmp_path, monkeypatch):
    """The query copies ``spark.sql.shuffle.partitions`` at ``.start()``:
    a batch query run while the stream drains sees the session's own
    value, and the stream's first batch still records ``n`` state
    partitions."""
    import json

    from pyspark.sql.streaming.query import StreamingQuery

    from rle_array_spark.streaming import running_quantiles_stream

    seen = []
    wait = StreamingQuery.awaitTermination

    def drain(query, *args):
        seen.append(spark.sql("SET spark.sql.shuffle.partitions").collect()[0][1])
        return wait(query, *args)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", drain)
    _write_shard(str(tmp_path / "in"), 0)
    ckpt = str(tmp_path / "ckpt")
    session_value = spark.conf.get("spark.sql.shuffle.partitions")
    assert session_value != "3"
    running_quantiles_stream(spark, str(tmp_path / "in"), str(tmp_path / "out"), ckpt,
                             state_partitions=3)
    assert seen == [session_value]
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "3"
    assert len([d for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit()]) == 3
