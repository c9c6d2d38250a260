"""Structured Streaming encode: continuously encode arriving sequence files.

The batch engine's kernels are stateless ``mapInArrow`` transforms, so the
same ``encode_df`` plan runs unchanged under ``readStream`` — Spark's
streaming checkpoint (WAL + file-source log) provides exactly-once
per-micro-batch delivery, complementing the batch writer's per-partition
commit log (tableio.py). The reference has no streaming story (SURVEY §2.d);
this is the Spark-native continuous-ingest path for a training-data
pipeline: new pre-tokenized shards land in a directory / table and encoded
blocks append downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rle_array_spark.chooser import DEFAULT_THRESHOLD
from rle_array_spark.engine import encode_df
from rle_array_spark.tokenize import SEQUENCES_SCHEMA


def _drain(spark: SparkSession, writer, state_partitions: int | None = None):
    """Start ``writer`` as an availableNow query and wait for it to end,
    the query's ``spark.sql.shuffle.partitions`` set to
    ``state_partitions`` when given.

    Spark fixes a stateful operator's state-store partition count from
    this conf at the checkpoint's FIRST batch, and every micro-batch
    thereafter runs one stateful task and commits one state-store delta
    per partition — so for a low-cardinality grouping key (a handful of
    sources, N pack shards) the session-wide default buys no parallelism
    and multiplies per-batch commit overhead (measured: 32 → 8 cut a
    4-micro-batch drain 7.3 s → 5.2 s on the sf0.1 gate corpus). An
    EXISTING checkpoint keeps its recorded count regardless.

    ``.start()`` clones the session, conf included, for the query, so the
    conf is set for that call alone: batch queries run during the drain
    see the session's own value. It is still session-global for that
    call: don't start another query from the session on another thread
    meanwhile."""
    writer = writer.trigger(availableNow=True)
    if state_partitions is None:
        query = writer.start()
    else:
        if int(state_partitions) < 1:
            # fail at call time, not with an opaque planner error after the
            # checkpoint directory exists (same policy as pack_stream seq_len)
            raise ValueError(f"state_partitions must be >= 1, got {state_partitions}")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
        try:
            query = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    query.awaitTermination()
    return query


def read_sequence_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def encode_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    threshold: float = DEFAULT_THRESHOLD,
    available_now: bool = True,
):
    """Start (and by default drain) a streaming encode job.

    ``available_now=True`` processes everything currently in ``input_dir``
    and stops — the test/drain mode; ``False`` leaves a continuous query
    running. Restarting with the same checkpoint_dir resumes exactly-once
    after the last committed micro-batch.
    """
    stream = read_sequence_stream(spark, input_dir)
    blocks = encode_df(stream, codec=codec, threshold=threshold)
    writer = (
        blocks.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        return _drain(spark, writer)
    return writer.trigger(processingTime="10 seconds").start()


# ---------------------------------------------------------------------------
# Custom stateful operator: running per-source encode statistics
# ---------------------------------------------------------------------------

RUNNING_STATS_SCHEMA = "source string, docs long, tokens long, encoded_bytes long"
_STATE_SCHEMA = "docs long, tokens long, encoded_bytes long"


def _running_stats_fn(key, pdf_iter, state):
    """applyInPandasWithState update function: accumulate per-source totals
    across micro-batches. State = (docs, tokens, encoded_bytes); each
    micro-batch emits the NEW running totals for sources it touched."""
    import pandas as pd

    docs, tokens, enc = state.get if state.exists else (0, 0, 0)
    for pdf in pdf_iter:
        docs += int(len(pdf))
        tokens += int(pdf["n_values"].astype("int64").sum())
        enc += int(pdf["encoded_bytes"].astype("int64").sum())
    state.update((docs, tokens, enc))
    yield pd.DataFrame(
        {"source": [key[0]], "docs": [docs], "tokens": [tokens], "encoded_bytes": [enc]}
    )


def running_source_stats_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    state_partitions: int | None = None,
):
    """Continuous encode with a CUSTOM STATEFUL OPERATOR downstream: encoded
    blocks feed ``applyInPandasWithState`` keyed by source, maintaining
    running (docs, tokens, encoded_bytes) totals that survive restarts via
    the streaming state store — the Spark-native form of a custom stateful
    streaming operator (no reference counterpart; SURVEY §2.d streaming row).

    Drains with availableNow and appends one row per touched source per
    micro-batch to ``out_dir`` (an auditable compression-progress ledger).
    ``state_partitions`` right-sizes the stateful operator for the
    low-cardinality ``source`` key (see :func:`_drain`).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_sequence_stream(spark, input_dir)
    blocks = encode_df(stream, codec=codec)
    stats = blocks.groupBy("source").applyInPandasWithState(
        _running_stats_fn,
        outputStructType=RUNNING_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return _drain(spark, writer, state_partitions)


RUNNING_QUANTILES_SCHEMA = "source string, n_toks long, p25 int, p50 int, p75 int"
_HIST_STATE_SCHEMA = "hvalues array<int>, hcounts array<long>"
_QUANTILE_PROBS = (0.25, 0.5, 0.75)


def _running_quantiles_fn(key, pdf_iter, state):
    """applyInPandasWithState update function: merge each micro-batch's
    per-block COMPRESSED-DOMAIN histograms (value_counts_block — O(runs),
    payloads never decoded) into a per-source running histogram held in
    the state store, and emit the exact running quantiles after each
    micro-batch. Same ceil(p·n) discrete convention as the batch
    ``engine.source_quantiles_df``, so a full drain ends at exactly the
    batch answer (pinned by tests/test_streaming.py). State size is
    bounded by the vocabulary, not the stream length."""
    import numpy as np
    import pandas as pd

    from rle_array_spark.codecs.reduce import value_counts_block

    if state.exists:
        hv, hc = state.get
        hist = dict(zip(hv, hc))
    else:
        hist = {}
    for pdf in pdf_iter:
        for codec, payload, n in zip(
            pdf["codec"], pdf["payload"], pdf["n_values"].astype("int64")
        ):
            vals, counts = value_counts_block(codec, memoryview(payload), int(n))
            for v, c in zip(vals.tolist(), counts.tolist()):
                hist[v] = hist.get(v, 0) + c
    values = np.array(sorted(hist), dtype=np.int64)
    counts = np.array([hist[v] for v in values.tolist()], dtype=np.int64)
    state.update((values.astype("int32").tolist(), counts.tolist()))
    cum = np.cumsum(counts)
    n_toks = int(cum[-1]) if cum.size else 0
    row = {"source": [key[0]], "n_toks": [n_toks]}
    for p in _QUANTILE_PROBS:
        k = int(np.ceil(p * n_toks))
        idx = int(np.searchsorted(cum, max(k, 1)))
        row[f"p{int(p * 100)}"] = [int(values[idx])] if n_toks else [None]
    yield pd.DataFrame(row)


def running_quantiles_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = None,
):
    """Continuous encode with streaming EXACT quantiles downstream: the
    per-source running token histogram lives in the streaming state store
    (merged from compressed-domain partial histograms), so every
    micro-batch appends the exact-so-far quartiles per touched source —
    the streaming twin of ``engine.source_quantiles_df``.

    ``max_files_per_trigger`` splits an availableNow drain into several
    micro-batches (one per N input files) so cross-batch state merge is
    actually exercised — the gated parity query uses 1.

    ``state_partitions`` right-sizes the stateful operator for the
    low-cardinality ``source`` key (see :func:`_drain`);
    on a real cluster pick roughly max(#distinct sources, executor
    count)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = read_sequence_stream(spark, input_dir, max_files_per_trigger)
    blocks = encode_df(stream, codec=codec)
    quants = blocks.groupBy("source").applyInPandasWithState(
        _running_quantiles_fn,
        outputStructType=RUNNING_QUANTILES_SCHEMA,
        stateStructType=_HIST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        quants.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return _drain(spark, writer, state_partitions)


def encode_table_stream(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    codec: str = "auto",
    available_now: bool = True,
):
    """Streaming variant of the mixed-dtype whole-table encode: every array
    column of arriving rows goes to its codec family (tableframe), with the
    same exactly-once micro-batch semantics as :func:`encode_stream`.
    ``input_schema`` is the arriving rows' DDL (streaming file sources need
    an explicit schema)."""
    from rle_array_spark.tableframe import encode_table_df

    stream = spark.readStream.schema(input_schema).parquet(input_dir)
    blocks = encode_table_df(stream, cols, codec=codec)
    writer = (
        blocks.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        return _drain(spark, writer)
    return writer.trigger(processingTime="10 seconds").start()


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch streaming exact dedup
# ---------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = "doc_id string, source string, n_chars int"
_DEDUP_STATE_SCHEMA = "seen int"


def _dedup_fn(key, pdf_iter, state):
    """applyInPandasWithState update function, keyed by md5(text): the
    FIRST time a text hash is ever seen (across all micro-batches — the
    state store persists through restarts), emit one representative (the
    lexicographic-min doc_id in the batch that introduced it); every later
    occurrence, in this batch or any future one, is dropped."""
    import pandas as pd

    best = None
    for pdf in pdf_iter:
        cand = pdf.sort_values("doc_id").iloc[0]
        if best is None or cand["doc_id"] < best["doc_id"]:
            best = cand
    if state.exists or best is None:
        yield pd.DataFrame({"doc_id": [], "source": [], "n_chars": []})
        return
    state.update((1,))
    yield pd.DataFrame(
        {
            "doc_id": [best["doc_id"]],
            "source": [best["source"]],
            "n_chars": [int(best["n_chars"])],
        }
    )


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Continuous exact dedup of arriving documents: the streaming form of
    pipeline.exact_dedup (one representative per distinct text EVER — the
    batch operator dedups within its input; here the state store extends
    the 'seen' set across micro-batches and job restarts, exactly-once).
    At scale the state is hash-partitioned by the md5 group key across
    executors — the same shuffle shape as the batch hash-groupBy, plus a
    RocksDB-backed state store on a real cluster. Unlike the source-keyed
    streams this key is HIGH-cardinality (one group per distinct text), so
    the session's shuffle-partition count is the right state sizing and no
    ``state_partitions`` override is offered.

    Drains with availableNow; appends surviving representatives to
    ``out_dir``."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rle_array_spark.pipeline import SHINGLE_K

    docs = (
        spark.readStream.schema("doc_id string, text string, source string")
        .parquet(input_dir)
        # same eligibility filter as the batch path (pipeline._docs_prepared)
        # so stream-vs-batch parity holds on short documents too
        .filter(F.length("text") >= SHINGLE_K)
        .select(
            F.md5("text").alias("text_hash"),
            F.col("doc_id").cast("string").alias("doc_id"),
            "source",
            F.length("text").alias("n_chars"),
        )
    )
    survivors = docs.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        survivors.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return _drain(spark, writer)


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sequence packing
# ---------------------------------------------------------------------------

PACKED_STREAM_SCHEMA = "shard int, example_id long, n_pieces long, tokens array<int>"
_PACK_STATE_SCHEMA = "ex_next long, tail array<int>, starts array<long>, total long"


def _pack_stream_fn(seq_len: int):
    """applyInPandasWithState update function factory, keyed by shard:
    carry the open example across micro-batches — the SAME state tuple
    (next example id, < seq_len token tail, doc starts overlapping the
    open example, total seen) and the SAME `packing._pack_segment` step
    the batch mapInArrow kernel runs, so the streaming operator packs
    bit-identically to the batch kernel for the same arrival order.
    Within a micro-batch, the shard's rows sort by (k, doc_id) — a
    single-drain over one wave of files therefore reproduces the batch
    pack exactly (pinned in tests); multi-wave arrival packs in arrival
    order, which is the pack-as-you-go contract of a continuous
    ingestion pipeline. State is bounded: tail < seq_len tokens plus the
    open example's doc starts, independent of stream length."""

    def fn(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        from rle_array_spark.packing import _pack_segment

        L = seq_len
        shard = int(key[0])
        if state.exists:
            ex_next, tail, starts, total = state.get
            st = [
                int(ex_next),
                np.asarray(tail, dtype=np.int32),
                np.asarray(starts, dtype=np.int64),
                int(total),
            ]
        else:
            st = [0, np.empty(0, np.int32), np.empty(0, np.int64), 0]
        rows = []
        for pdf in pdf_iter:
            rows.append(pdf[["k", "doc_id", "tokens"]])
        out = []
        if rows:
            batch = pd.concat(rows).sort_values(["k", "doc_id"], kind="stable")
            toks = [np.asarray(t, dtype=np.int32) for t in batch["tokens"]]
            toks = [t for t in toks if len(t)]
            if toks:
                seg = np.concatenate(toks)
                seg_lens = np.asarray([len(t) for t in toks], dtype=np.int64)
                st, emitted = _pack_segment(st, seg, seg_lens, L)
                if emitted is not None:
                    ex_ids, pieces, flat = emitted
                    out.append(
                        pd.DataFrame(
                            {
                                "shard": np.full(len(ex_ids), shard, dtype=np.int32),
                                "example_id": ex_ids,
                                "n_pieces": pieces,
                                "tokens": [
                                    flat[i * L : (i + 1) * L].tolist()
                                    for i in range(len(ex_ids))
                                ],
                            }
                        )
                    )
        state.update(
            (int(st[0]), st[1].tolist(), st[2].tolist(), int(st[3]))
        )
        for pdf in out:
            yield pdf

    return fn


def pack_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    seq_len: int = 512,
    n_shards: int = 8,
    seed: int = 1,
    max_files_per_trigger: int | None = None,
    state_partitions: int | None = None,
):
    """Continuous sequence packing: arriving pre-tokenized files append
    fixed-length training examples downstream. The deterministic shuffle
    key and shard assignment are the batch ones (packing._keyed), the
    per-shard carry state lives in the streaming state store (restart
    resumes the open example exactly-once), and the shard groupBy gives
    the same hash-shuffle shape as the batch plan. Drains with
    availableNow; ``max_files_per_trigger`` splits the drain into
    micro-batches of N files (exercises the cross-batch carry).
    ``state_partitions`` right-sizes the stateful operator — there are
    exactly ``n_shards`` state keys, so more partitions than that only
    add per-micro-batch state commits (see :func:`_drain`).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from rle_array_spark.packing import _keyed

    if int(seq_len) < 1:
        # fail at call time like the batch entry points, not with a
        # ZeroDivisionError on an executor after the checkpoint exists
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")

    stream = read_sequence_stream(spark, input_dir, max_files_per_trigger)
    keyed = _keyed(stream, n_shards, seed).select("shard", "k", "doc_id", "tokens")
    packed = keyed.groupBy("shard").applyInPandasWithState(
        _pack_stream_fn(seq_len),
        outputStructType=PACKED_STREAM_SCHEMA,
        stateStructType=_PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        packed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    return _drain(spark, writer, state_partitions)
