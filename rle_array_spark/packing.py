"""Sequence packing: deterministic epoch shuffle + fixed-length example
assembly over the (doc_id, tokens, n_tok, source) corpus.

The canonical pretraining-data step the reference's token pipeline feeds
(cf. reference test corpus layout, ``rle_array/testing.py:40-71``): shuffle
documents deterministically, concatenate their token streams, and re-slice
into fixed ``seq_len`` examples — then hand the packed examples straight to
``encode_df`` for columnar compression.

Design (Spark-first, two implementations sharing one contract):

* **Shuffle key**: one md5 per doc (``conv(substr(md5(doc_id||':'||seed),
  1,15),16,10)`` — the same 60-bit md5-prefix-int trick the LSH band keys
  use), so the "random" epoch order is pure integer SQL that DuckDB
  replays bit-identically. A different ``seed`` is a different epoch
  permutation.
* **Shards, not a global sort**: docs hash into ``n_shards`` independent
  streams (``key % n_shards``); each shard packs its own token stream.
  Packing therefore costs ONE hash shuffle + an in-partition sort — never
  a global range sort — and shard count scales with the cluster (at
  100 TB you run n_shards ≈ a few × executor count; each shard's tail
  loses < seq_len tokens, so waste is n_shards·seq_len ≪ corpus).
* **Relational path** (:func:`pack_examples`): window cumsum per shard →
  each doc knows its global offset → ``sequence()`` + ``slice()`` explode
  the doc into per-example pieces → groupBy(shard, example) reassembles
  with ``sort_array`` + ``flatten``. Every step is a built-in Catalyst
  expression; this is the oracle-checkable reference semantics.
* **Kernel path** (:func:`pack_examples_kernel`): ``repartition(shard)``
  + ``sortWithinPartitions`` + one ``mapInArrow`` pass that walks each
  partition's contiguous shard segments with numpy only — the token
  stream of a segment is ONE zero-copy slice of the Arrow value buffer,
  full examples leave via a single ``reshape``, and per-example piece
  counts come from two ``searchsorted`` calls over the doc-start array.
  No per-row Python; carry state per shard is a < seq_len tail plus the
  doc starts overlapping the open example.

Both paths emit identical examples (pytest pins frame equality; the
driver gate runs both against one DuckDB oracle). Tail fragments shorter
than ``seq_len`` are dropped per shard, exactly like a fixed-context
pretraining loader.

**Measured verdict (BASELINE.md "Round-5 sequence packing: relational vs
kernel A/B", 241 M tokens, local[32],
interleaved pairs): the RELATIONAL path wins** — kernel/relational
median 0.75× at 64 shards and 0.56× at 512, every pair. The kernel's
single linear pass does not buy back its ~2× corpus Arrow transfer into
Python and out; Catalyst's whole-stage-codegen window + explode +
regroup stays JVM-side end to end and clears 95-110 M tok/s. So
:func:`pack_examples` is the default and the bench cell; the kernel is
kept as the gate-verified second implementation (it double-checks the
slice arithmetic through entirely different machinery) and as the seam
where a fused tokenize→pack→encode single pass would live if packing
ever feeds a Python-side consumer directly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PACK_SEQ_LEN = 512
PACK_SHARDS = 8
PACK_SEED = 1

PACKED_SCHEMA = "shard int, example_id bigint, n_pieces bigint, tokens array<int>"


def _keyed(seq: DataFrame, n_shards: int, seed: int) -> DataFrame:
    """Attach the deterministic epoch-shuffle key and shard id.

    Length comes from ``size(tokens)`` — NOT the ``n_tok`` metadata
    column — so the relational path measures the same ground truth the
    kernel reads from the Arrow offsets: a corrupt ``n_tok`` can skew a
    count, never silently shear the slice arithmetic between the two
    implementations. Null token arrays get ``size() == -1`` and drop with
    the empties; null doc_ids drop too — a null identity cannot be
    shuffle-keyed, and without the filter the three implementations would
    diverge (relational: NULL shard rows; kernel: NaN shard crash;
    streaming: None key crash)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    return (
        seq.withColumn("len", F.size("tokens"))
        .filter(F.col("len") > 0)
        .filter(F.col("doc_id").isNotNull())
        .withColumn(
            "k",
            F.expr(
                f"cast(conv(substring(md5(concat(doc_id, ':{seed}')), 1, 15),"
                " 16, 10) as bigint)"
            ),
        )
        .withColumn("shard", (F.col("k") % F.lit(n_shards)).cast("int"))
    )


def pack_examples(
    seq: DataFrame,
    seq_len: int = PACK_SEQ_LEN,
    n_shards: int = PACK_SHARDS,
    seed: int = PACK_SEED,
) -> DataFrame:
    """Relational packing: (doc_id, tokens, n_tok, …) → PACKED_SCHEMA rows.

    One window cumsum per shard gives every doc its global stream offset;
    ``sequence``/``slice`` cut the doc into per-example pieces; a
    groupBy(shard, example_id) reassembles each example in stream order.
    """
    L = int(seq_len)
    if L < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    w = (
        Window.partitionBy("shard")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pos = _keyed(seq, n_shards, seed).withColumn(
        "st", F.sum(F.col("len").cast("long")).over(w) - F.col("len")
    )
    pieces = (
        pos.select(
            "shard",
            "st",
            "len",
            "tokens",
            F.explode(
                F.expr(f"sequence(st div {L}, (st + len - 1) div {L})")
            ).alias("ex"),
        )
        .select(
            "shard",
            F.col("ex").alias("example_id"),
            F.expr(f"greatest(ex * {L}, st)").alias("pstart"),
            F.expr(
                f"slice(tokens, cast(greatest(ex * {L}, st) - st + 1 as int),"
                f" cast(least((ex + 1) * {L}, st + len)"
                f" - greatest(ex * {L}, st) as int))"
            ).alias("piece"),
        )
    )
    return (
        pieces.groupBy("shard", "example_id")
        .agg(
            F.count("*").alias("n_pieces"),
            F.expr(
                "flatten(transform(sort_array(collect_list(struct(pstart, piece))),"
                " s -> s.piece))"
            ).alias("tokens"),
        )
        .filter(F.size("tokens") == L)
        .select("shard", "example_id", "n_pieces", "tokens")
    )


# ---------------------------------------------------------------------------
# kernel path
# ---------------------------------------------------------------------------

def _pack_segment(state: list, seg: np.ndarray, seg_lens: np.ndarray, L: int):
    """Advance ONE shard's packing state by a contiguous stream segment.

    ``state`` is ``[ex_next, tail(int32), starts(int64 global doc-start
    coords overlapping the open example), total_seen]``; ``seg`` is the
    segment's concatenated token values and ``seg_lens`` its positive
    per-doc lengths. Returns ``(new_state, emitted)`` where ``emitted``
    is ``None`` or ``(ex_ids, piece_counts, flat)`` with ``flat`` holding
    ``len(ex_ids) * L`` tokens. Shared by the mapInArrow batch kernel and
    the stateful streaming operator (streaming.pack_stream) so both pack
    bit-identically for the same arrival order."""
    ex_next, tail, starts, total = state
    new_starts = (
        total + np.concatenate(([0], np.cumsum(seg_lens[:-1])))
        if len(seg_lens)
        else np.empty(0, np.int64)
    )
    stream = np.concatenate([tail, seg])
    base = ex_next * L
    total = total + len(seg)
    starts = np.concatenate([starts, new_starts])
    n_full = len(stream) // L
    if not n_full:
        return [ex_next, stream, starts, total], None
    ends = np.append(starts[1:], total)
    a = base + np.arange(n_full, dtype=np.int64) * L
    pieces = np.searchsorted(starts, a + L, side="left") - np.searchsorted(
        ends, a, side="right"
    )
    ex_ids = np.arange(ex_next, ex_next + n_full)
    flat = stream[: n_full * L].copy()
    ex_next += n_full
    tail = stream[n_full * L :].copy()
    if len(tail):
        j = np.searchsorted(starts, ex_next * L, side="right") - 1
        starts = starts[max(j, 0) :]
    else:
        starts = np.empty(0, np.int64)
    return [ex_next, tail, starts, total], (
        ex_ids,
        pieces.astype(np.int64),
        flat,
    )


def _pack_kernel(seq_len: int):
    L = int(seq_len)
    FLUSH_TOKENS = 4 << 20  # flat int32 tokens per output RecordBatch

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # shard -> [next_example_id, tail(np.int32), starts(np.int64 global
        # doc-start coords overlapping the open example), total_seen]
        state: dict[int, list] = {}
        out_shard: list[np.ndarray] = []
        out_ex: list[np.ndarray] = []
        out_np: list[np.ndarray] = []
        out_flat: list[np.ndarray] = []
        flat_len = 0

        def flush():
            nonlocal flat_len, out_shard, out_ex, out_np, out_flat
            if not out_shard:
                return None
            sh = np.concatenate(out_shard)
            n = len(sh)
            lens = np.full(n + 1, L, dtype=np.int64)
            lens[0] = 0
            offs64 = np.cumsum(lens)
            if offs64[-1] > np.iinfo(np.int32).max:
                # raise-not-wrap (the _checked_int32 policy): a batch this
                # large means FLUSH_TOKENS was defeated by one giant
                # segment emission at the Arrow int32-offset ceiling
                raise ValueError(
                    f"packed flush of {offs64[-1]} tokens overflows Arrow "
                    "int32 list offsets"
                )
            offs = offs64.astype(np.int32)
            flat = (
                np.concatenate(out_flat) if out_flat else np.empty(0, np.int32)
            )
            rb = pa.RecordBatch.from_arrays(
                [
                    pa.array(sh.astype(np.int32), type=pa.int32()),
                    pa.array(np.concatenate(out_ex), type=pa.int64()),
                    pa.array(np.concatenate(out_np), type=pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(flat, type=pa.int32()),
                    ),
                ],
                names=["shard", "example_id", "n_pieces", "tokens"],
            )
            out_shard, out_ex, out_np, out_flat = [], [], [], []
            flat_len = 0
            return rb

        for batch in batches:
            if not batch.num_rows:
                continue
            shards = batch.column("shard").to_numpy(zero_copy_only=False)
            col = batch.column("tokens")
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            t_off = np.asarray(col.offsets)
            t_val = np.asarray(col.values).astype(np.int32, copy=False)
            # contiguous shard segments (input sorted by shard inside the
            # partition, every shard wholly in one partition)
            bounds = np.concatenate(
                ([0], np.flatnonzero(np.diff(shards)) + 1, [len(shards)])
            )
            for s0, s1 in zip(bounds[:-1], bounds[1:]):
                sh = int(shards[s0])
                st = state.setdefault(
                    sh, [0, np.empty(0, np.int32), np.empty(0, np.int64), 0]
                )
                seg_lens = (t_off[s0 + 1 : s1 + 1] - t_off[s0:s1]).astype(
                    np.int64
                )
                seg_lens = seg_lens[seg_lens > 0]
                seg = t_val[t_off[s0] : t_off[s1]]  # zero-copy stream slice
                st, emitted = _pack_segment(st, seg, seg_lens, L)
                state[sh] = st
                if emitted is not None:
                    ex_ids, pieces, flat = emitted
                    out_shard.append(np.full(len(ex_ids), sh, dtype=np.int64))
                    out_ex.append(ex_ids)
                    out_np.append(pieces)
                    out_flat.append(flat)
                    flat_len += len(flat)
                if flat_len >= FLUSH_TOKENS:
                    rb = flush()
                    if rb is not None:
                        yield rb
        rb = flush()
        if rb is not None:
            yield rb

    return fn


def pack_examples_kernel(
    seq: DataFrame,
    seq_len: int = PACK_SEQ_LEN,
    n_shards: int = PACK_SHARDS,
    seed: int = PACK_SEED,
) -> DataFrame:
    """Kernel packing: identical output to :func:`pack_examples` via one
    hash shuffle + in-partition sort + a linear vectorized Arrow pass."""
    if int(seq_len) < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    keyed = _keyed(seq, n_shards, seed).select("shard", "k", "doc_id", "tokens")
    arranged = keyed.repartition(F.col("shard")).sortWithinPartitions(
        "shard", "k", "doc_id"
    )
    return arranged.mapInArrow(_pack_kernel(seq_len), PACKED_SCHEMA)


# ---------------------------------------------------------------------------
# gate stats + oracle
# ---------------------------------------------------------------------------

def pack_stats(packed: DataFrame, arm: str) -> DataFrame:
    """Per-example stat row pinning content AND order (tok_wsum is the
    1-based position-weighted sum, so any within-example reorder breaks
    the cross-engine hash)."""
    return packed.select(
        F.concat_ws(":", "shard", "example_id").alias("key"),
        F.col("n_pieces").alias("docs"),
        F.size("tokens").cast("long").alias("n_tok"),
        F.expr("aggregate(tokens, 0L, (a, x) -> a + x)").alias("tok_sum"),
        F.array_min("tokens").alias("tok_min"),
        F.array_max("tokens").alias("tok_max"),
        F.expr(
            "aggregate(transform(tokens, (x, i) -> cast(x as bigint) * (i + 1)),"
            " 0L, (a, b) -> a + b)"
        ).alias("tok_wsum"),
        F.lit(arm).alias("arm"),
    )


def pack_oracle_select(
    arms: tuple[str, ...],
    seq_len: int = PACK_SEQ_LEN,
    n_shards: int = PACK_SHARDS,
    seed: int = PACK_SEED,
) -> str:
    """DuckDB SELECT re-deriving the packed-example stat rows from a ``tok``
    CTE (doc_id, tokens) — same md5 key, same shard mod, same window
    cumsum, same slice arithmetic, one row set per arm label."""
    L, NS = int(seq_len), int(n_shards)
    values = ", ".join(f"('{a}')" for a in arms)
    return f"""pk AS (
    SELECT doc_id, tokens, CAST(length(tokens) AS BIGINT) AS n_tok,
           ('0x' || substring(md5(doc_id || ':{seed}'), 1, 15))::BIGINT AS k
    FROM tok WHERE length(tokens) > 0
), ps AS (
    SELECT *, CAST(k % {NS} AS INT) AS shard FROM pk
), ppos AS (
    SELECT *, CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              - n_tok AS st
    FROM ps
), pex AS (
    SELECT shard, st, n_tok, tokens,
           unnest(range(st // {L}, (st + n_tok - 1) // {L} + 1)) AS ex
    FROM ppos
), ppiece AS (
    SELECT shard, ex,
           greatest(ex * {L}, st) AS pstart,
           list_slice(tokens, CAST(greatest(ex * {L}, st) - st + 1 AS BIGINT),
                      CAST(least((ex + 1) * {L}, st + n_tok) - st AS BIGINT))
               AS piece
    FROM pex
), pexamples AS (
    SELECT shard, ex, CAST(count(*) AS BIGINT) AS n_pieces,
           flatten(list(piece ORDER BY pstart)) AS toks
    FROM ppiece GROUP BY shard, ex
), parms AS (
    SELECT CAST(shard AS VARCHAR) || ':' || CAST(ex AS VARCHAR) AS key,
           n_pieces AS docs,
           CAST(length(toks) AS BIGINT) AS n_tok,
           CAST(list_sum(toks) AS BIGINT) AS tok_sum,
           CAST(list_min(toks) AS INT) AS tok_min,
           CAST(list_max(toks) AS INT) AS tok_max,
           CAST(list_sum(list_transform(toks,
                (x, i) -> CAST(x AS BIGINT) * i)) AS BIGINT) AS tok_wsum,
           arms.arm AS arm
    FROM pexamples CROSS JOIN (VALUES {values}) AS arms(arm)
    WHERE length(toks) = {L}
)
SELECT * FROM parms"""
