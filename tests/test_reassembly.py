"""decode_df(reassemble_chunks=True) — a doc_id exchange, a sort within
partitions and the streaming stitch kernel — against the grouped plan it
replaced (groupBy doc_id + array_sort(collect_list(struct(chunk_idx,
codec, payload, n_values))) + decode), rebuilt here as the oracle."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rle_array_spark.engine import (
    DECODED_SCHEMA,
    _decode_rows,
    _numpy_to_list,
    _stitch_docs,
    decode_df,
    encode_df,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _grouped_decode(blocks):
    """The reassembly plan before the stitch kernel: one aggregate row per
    doc_id holding its sorted chunk structs, flattened and decoded."""
    grouped = blocks.groupBy("doc_id").agg(
        F.expr("first(source) AS source"),
        F.expr("array_sort(collect_list(struct(chunk_idx, codec, payload, n_values))) AS chunks"),
    )

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            la = batch.column("chunks")
            list_off = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            structs = la.flatten()
            sub = pa.RecordBatch.from_arrays(
                [structs.field(f) for f in ("codec", "payload", "n_values")],
                names=["codec", "payload", "n_values"],
            )
            flat, chunk_off = _decode_rows(sub)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("source"),
                 _numpy_to_list(flat, chunk_off[list_off - list_off[0]])],
                names=["doc_id", "source", "tokens"],
            )

    return grouped.mapInArrow(kernel, DECODED_SCHEMA)


def _multiset(df):
    return sorted(
        ((r["doc_id"] or "", r["doc_id"] is None, r["source"], tuple(r["tokens"]))
         for r in df.collect()),
    )


@pytest.fixture(scope="module")
def seqs(spark):
    rng = np.random.default_rng(17)

    def toks(n, hi=9):
        return rng.integers(0, hi, n).astype(int).tolist()

    dup = toks(40)
    rows = [
        (None, toks(30), "nulls"),        # chunked, null doc_id …
        (None, toks(5), "nulls"),         # … twice, so they merge
        ("dup-same", dup, "d"),
        ("dup-same", dup, "d"),           # identical duplicate
        ("dup-diff", toks(25), "d"),
        ("dup-diff", toks(33, 3), "d"),   # same doc_id, other content
        ("empty", [], "e"),
        ("giant", toks(3000, 4), "g"),    # 1,500 chunks at CHUNK = 2
    ]
    rows += [(f"small-{i}", toks(int(rng.integers(1, 12))), "s") for i in range(12)]
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


@pytest.mark.parametrize("batch_rows", [3, 1024])
@pytest.mark.parametrize("chunk", [2, None], ids=["chunked", "unchunked"])
def test_stitch_matches_grouped_plan(spark, seqs, batch_rows, chunk):
    """Same (doc_id, source, tokens) multiset as the grouped plan, with
    Arrow batches far smaller than the giant's 1,500 chunks and with
    batches that hold whole documents; the unchunked arm has no row
    with n_chunks > 1."""
    blocks = encode_df(seqs, codec="auto", chunk_tokens=chunk).cache()
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(batch_rows))
    try:
        got = _multiset(decode_df(blocks, reassemble_chunks=True))
        want = _multiset(_grouped_decode(blocks))
    finally:
        spark.conf.set(BATCH_CONF, old)
        blocks.unpersist()
    assert got == want
    by_id = {(d, isnull): t for d, isnull, _, t in got}
    assert len(by_id[("giant", False)]) == 3000
    assert len(by_id[("", True)]) == 35
    assert by_id[("empty", False)] == ()


def _block_batch(ids, sizes):
    """A sorted raw-codec block batch: row i holds ``sizes[i]`` tokens."""
    from rle_array_spark.codecs import CODECS

    start = np.cumsum([0, *sizes])
    vals = [np.arange(a, b, dtype=np.int32) for a, b in zip(start[:-1], start[1:])]
    return pa.RecordBatch.from_pydict({
        "doc_id": pa.array(ids, pa.string()),
        "source": pa.array([f"src-{i}" for i in range(len(ids))], pa.string()),
        "codec": ["raw"] * len(ids),
        "payload": pa.array([bytes(CODECS["raw"].encode(v)) for v in vals], pa.binary()),
        "n_values": pa.array(sizes, pa.int32()),
    })


@pytest.mark.parametrize("cut", [1, 2, 3, 5, 100])
def test_stitch_kernel_across_batch_cuts(cut):
    """The kernel alone (no Spark): any cut of the sorted rows into
    batches, empty batches included, emits the same documents, each with
    its first row's source, and a null doc_id run is one document."""
    ids = [None, None, "a", "b", "b", "b", "c", "d", "d"]
    sizes = [2, 3, 0, 1, 4, 2, 5, 0, 3]
    batch = _block_batch(ids, sizes)
    parts = [batch.slice(i, cut) for i in range(0, batch.num_rows, cut)]
    parts.insert(1, batch.slice(0, 0))
    out = pa.Table.from_batches(list(_stitch_docs(iter(parts)))).to_pylist()
    assert [(r["doc_id"], r["source"], len(r["tokens"])) for r in out] == [
        (None, "src-0", 5), ("a", "src-2", 0), ("b", "src-3", 7),
        ("c", "src-6", 5), ("d", "src-7", 3),
    ]
    assert [t for r in out for t in r["tokens"]] == list(range(sum(sizes)))
