"""Spark jobs: encode / decode / verify over tokenized-sequence tables.

All kernels are ``mapInArrow`` batch functions (Iterator[pa.RecordBatch] →
Iterator[pa.RecordBatch]); token arrays are accessed through Arrow list
offsets/values as NumPy views — no per-row Python UDFs (BASELINE.json
`input_hint`). Everything relational above the kernels is the stock
DataFrame API, so Catalyst keeps predicate pushdown / column pruning /
AQE for free (SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rle_array_spark.chooser import DEFAULT_THRESHOLD, choose_codec_batch
from rle_array_spark.codecs import CODECS, compute_stats
from rle_array_spark.codecs.rle import reference_rle_nbytes

TOKENS_FIELD = pa.field("tokens", pa.list_(pa.int32()))

BLOCK_SCHEMA = (
    "doc_id string, source string, codec string, payload binary, "
    "n_values int, n_runs int, tok_sum long, tok_min int, tok_max int, "
    "raw_bytes long, encoded_bytes long, ref_rle_bytes long, "
    "chunk_idx int, n_chunks int, chunk_offset long"
)

# A single sequence longer than this is split into multiple blocks before
# the shuffle — the skew floor otherwise is one row (a 1-billion-token
# sequence would pin one task and one Arrow batch). Chunk boundaries follow
# the reference's concat semantics (_algorithms.py:62-96): decode reassembles
# by (doc_id, chunk_idx) and the boundary runs simply abut.
DEFAULT_CHUNK_TOKENS = 1 << 20

DECODED_SCHEMA = "doc_id string, source string, tokens array<int>"

STATS_SCHEMA = (
    "doc_id string, source string, n_tok int, tok_sum long, "
    "tok_min int, tok_max int, tok_wsum long, n_runs int, card int"
)


def session(
    app: str = "rle-array-spark",
    cores: int | str = "*",
    shuffle_partitions: int = 32,
    arrow_batch_rows: int = 1024,
    max_partition_bytes: int = 16 * 1024 * 1024,
    reader_batch_rows: int = 256,
    driver_memory: str = "16g",
) -> SparkSession:
    """Local session with the engine's required configs. On a real cluster
    the same configs ride spark-submit --conf; nothing here is local-only."""
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Cap Arrow batch rows so a batch of giant sequences stays bounded;
        # the salted repartition below keeps giants from clumping anyway.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # Small scan splits bound per-task token mass — the no-shuffle skew
        # defense for the scan-parallel encode path.
        .config("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        # Bound the parquet vectorized reader's ColumnarBatch by ROWS as well:
        # the default 4096 sizes the scan by row count, so a corpus holding
        # multi-hundred-MB token rows (one 100 M-token sequence = 400 MB)
        # materializes gigabytes per scan task and OOMs a bounded executor
        # heap before the engine's chunk defense ever runs. 256 rows keeps a
        # normal corpus batch ~MB-sized (Arrow transfer is capped at 1024
        # rows anyway) and measured 1.08-1.13x FASTER on the 241 M-token
        # encode A/B (byte-identical output; BASELINE.md round 5).
        .config("spark.sql.parquet.columnarReaderBatchSize", str(reader_batch_rows))
        # Local mode: the driver heap IS the executor heap. 16g across 32
        # concurrent tasks is 0.5 GB/task — enough for the engine's own
        # bounded blocks, but a RAW corpus row of T tokens needs ~3×4T bytes
        # per scan task transiently (vector growth + Arrow transfer), so
        # giant-sequence ingest must size the heap like a real cluster does:
        # heap ≳ concurrent_tasks_per_executor × 3 × max_row_bytes (see
        # scripts/soak_giant.py and BASELINE.md round 5).
        .config("spark.driver.memory", driver_memory)
        # Shuffle scratch on tmpfs: the sandbox's virtual disk stalls on
        # writeback and adds multi-second variance to shuffle-heavy stages.
        # On a real cluster this is the usual local-SSD spark.local.dir.
        .config("spark.local.dir", "/dev/shm/spark-local")
        .getOrCreate()
    )


# ---------------------------------------------------------------------------
# Arrow helpers
# ---------------------------------------------------------------------------

def _list_to_numpy(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values int32, offsets int64 of len n+1) for a list<int32> array.

    Uses list_value_length + list_flatten, which are offset/slice-safe
    (ListArray.offsets is not, after Arrow-level slicing).
    """
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    if flat.dtype != np.int32:
        flat = flat.astype(np.int32)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    return flat, offsets


def _bin_to_numpy(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values int32, offsets int64) for a binary column of packed
    little-endian int32 tokens (the shuffle-friendly transport form)."""
    if col.null_count:
        raise ValueError("tok_bin must be non-null")
    byte_lengths = pc.binary_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
    # value_offsets buffer covers [col.offset, col.offset + n] entries
    value_offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)
    start = int(value_offsets[col.offset])
    end = int(value_offsets[col.offset + len(col)])
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[start:end]
    try:
        flat = data.view("<i4")
    except ValueError:  # unaligned slice start — copy once
        flat = np.frombuffer(data.tobytes(), dtype="<i4")
    offsets = np.concatenate(([0], np.cumsum(byte_lengths // 4)))
    return flat, offsets


def _tokens_from_batch(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    names = batch.schema.names
    if "tok_bin" in names:
        return _bin_to_numpy(batch.column("tok_bin"))
    return _list_to_numpy(batch.column("tokens"))


PACKED_SCHEMA = (
    "doc_id string, source string, n_tok int, tok_bin binary, "
    "chunk_idx int, n_chunks int, chunk_offset long"
)


def _chunk_split(batch: pa.RecordBatch, chunk_tokens: int | None):
    """A batch's rows cut into chunks of at most ``chunk_tokens`` values:
    ``(flat, offsets, doc_id, source, chunk_idx, n_chunks, chunk_offset)``.

    A row of n > k values becomes ⌈n/k⌉ rows of k with the remainder last;
    shorter rows stay whole. With no ``chunk_tokens`` nothing is cut and a
    packed batch keeps the chunk columns it carries (:func:`_chunk_cols`).
    Chunks of a row are contiguous and in order, so the flat values buffer
    is shared unchanged and only the offsets are re-cut. The per-batch body
    of both :func:`pack_tokens_df` and the chunked :func:`encode_df`."""
    flat, offsets = _tokens_from_batch(batch)
    doc_id, source = batch.column("doc_id"), batch.column("source")
    lengths = offsets[1:] - offsets[:-1]
    if not chunk_tokens or not lengths.size or int(lengths.max()) <= chunk_tokens:
        return (flat, offsets, doc_id, source, *_chunk_cols(batch))
    n_chunks = np.maximum(1, -(-lengths // chunk_tokens))
    rows = np.repeat(np.arange(lengths.size), n_chunks)
    chunk_idx = np.arange(rows.size) - np.repeat(np.cumsum(n_chunks) - n_chunks, n_chunks)
    chunk_offset = chunk_idx * chunk_tokens
    offsets = np.append(offsets[:-1][rows] + chunk_offset, offsets[-1])
    return (flat, offsets, doc_id.take(rows), source.take(rows),
            pa.array(chunk_idx.astype(np.int32)), pa.array(n_chunks[rows].astype(np.int32)),
            pa.array(chunk_offset.astype(np.int64)))


def pack_tokens_df(df: DataFrame, chunk_tokens: int | None = None) -> DataFrame:
    """Re-encode the tokens column as packed int32-LE binary, optionally
    splitting sequences longer than ``chunk_tokens`` into multiple rows.

    Spark's row shuffle serializes ``array<int>`` element-by-element
    (UnsafeArrayData), which measured 3-5× slower than shuffling the same
    bytes as a single binary value (one memcpy). The paths that shuffle
    raw tokens — :func:`encode_df` with ``num_partitions`` and the
    checkpointed writer with ``encode_first=False`` — convert to this
    transport form first: never shuffle a token array as an array.

    Chunking happens here, BEFORE the salted repartition, so a giant
    sequence's chunks spread across partitions instead of pinning one task.
    A chunked encode that shuffles no raw tokens does not come here: it
    cuts the chunks inside its own kernel (:func:`_chunk_split`), so each
    token crosses into Python once.
    """

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            flat, offsets, doc_id, source, chunk_idx, n_chunks, chunk_offset = _chunk_split(
                batch, chunk_tokens
            )
            binarr = pa.LargeBinaryArray.from_buffers(
                pa.large_binary(),
                offsets.size - 1,
                [None, pa.py_buffer((offsets * 4).astype(np.int64)),
                 pa.py_buffer(flat.view(np.uint8))],
            ).cast(pa.binary())
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    source,
                    pa.array((offsets[1:] - offsets[:-1]).astype(np.int32)),
                    binarr,
                    chunk_idx,
                    n_chunks,
                    chunk_offset,
                ],
                names=[
                    "doc_id", "source", "n_tok", "tok_bin",
                    "chunk_idx", "n_chunks", "chunk_offset",
                ],
            )

    return df.select("doc_id", "source", "n_tok", "tokens").mapInArrow(kernel, PACKED_SCHEMA)


def _numpy_to_list(flat: np.ndarray, offsets: np.ndarray) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.int32())
    )


# ---------------------------------------------------------------------------
# Salted repartition (SURVEY.md §4 physical execution)
# ---------------------------------------------------------------------------

def salted_repartition(
    df: DataFrame, num_partitions: int, salt_buckets: int | None = None
) -> DataFrame:
    """Repartition on (source, log2-length bucket, salt).

    Token sequences are heavily skewed by length and source; hashing on
    (source, length_bucket) alone would send every `giant` row to a handful
    of partitions, so a doc_id-derived salt splits hot buckets. AQE cannot
    fix skew *entering* a mapInArrow stage — this shuffle is the explicit
    defense (north_rule: salted repartitioning on source/length buckets).

    The salt space must scale with the partition count: with k distinct
    (source, bucket, salt) keys per hot group, per-partition token mass has
    relative spread ~1/sqrt(keys-per-partition), so we keep ≥8 keys per
    partition for the hottest group alone (measured: 64 fixed salts at 128
    partitions left a 4.4×-median straggler partition; 8×num_partitions
    brings max/median under ~1.6).
    """
    return df.repartition(num_partitions, *_salted_keys(df, num_partitions, salt_buckets))


def salted_partition_id(df: DataFrame, num_partitions: int) -> Column:
    """The partition :func:`salted_repartition` sends each row of ``df``
    to, as a column: Spark's hash partitioner is ``pmod(hash(keys), P)``
    (Murmur3, seed 42 — the same function as SQL ``hash``), so this needs
    no shuffle."""
    return F.pmod(F.hash(*_salted_keys(df, num_partitions)), F.lit(num_partitions))


def _salted_keys(
    df: DataFrame, num_partitions: int, salt_buckets: int | None = None
) -> list[Column]:
    if salt_buckets is None:
        salt_buckets = num_partitions * 8
    length_col = "n_tok" if "n_tok" in df.columns else "n_values"
    length_bucket = F.ceil(F.log2(F.col(length_col) + F.lit(2.0))).cast("int")
    # chunk_idx joins the salt when present so the chunks of one giant
    # sequence spread instead of inheriting the doc's single salt value
    salt_cols = [F.col("doc_id")] + (
        [F.col("chunk_idx")] if "chunk_idx" in df.columns else []
    )
    salt = F.pmod(F.xxhash64(*salt_cols), F.lit(salt_buckets))
    return [F.col("source"), length_bucket, salt]


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

def _chunk_cols(batch: pa.RecordBatch) -> tuple[pa.Array, pa.Array, pa.Array]:
    names = batch.schema.names
    if "chunk_idx" in names:
        return (
            batch.column("chunk_idx"),
            batch.column("n_chunks"),
            batch.column("chunk_offset"),
        )
    n = batch.num_rows
    return (
        pa.array(np.zeros(n, dtype=np.int32)),
        pa.array(np.ones(n, dtype=np.int32)),
        pa.array(np.zeros(n, dtype=np.int64)),
    )


def _row_stats(
    flat: np.ndarray,
    run_pos: np.ndarray,
    run_a: int,
    run_b: int,
    n: int,
    n_runs: int,
    vmin: int,
    vmax: int,
):
    """BlockStats for one row from batch-precomputed arrays (change mask /
    run positions / reduceat min-max) — same result as
    codecs.compute_stats(row) without re-deriving the change mask."""
    from rle_array_spark.codecs.core import (
        EXACT_CARDINALITY_MAX_RUNS,
        BlockStats,
        _estimate_cardinality,
    )

    if n == 0:
        return BlockStats(n=0, n_runs=0, cardinality=0, vmin=0, vmax=0)
    run_values = flat[run_pos[run_a:run_b]]
    if n_runs <= EXACT_CARDINALITY_MAX_RUNS:
        uniq = np.unique(run_values)
        return BlockStats(
            n=n, n_runs=n_runs, cardinality=int(uniq.size),
            vmin=vmin, vmax=vmax, uniq=uniq,
        )
    return BlockStats(
        n=n, n_runs=n_runs,
        cardinality=_estimate_cardinality(run_values, vmin, vmax),
        vmin=vmin, vmax=vmax, uniq=None,
    )


def _encode_column(
    flat: np.ndarray, offsets: np.ndarray, codec: str, threshold: float
) -> dict:
    """Encode one logical column (flat values + row offsets) → per-row
    codec names, payloads and exact metadata arrays.

    Batch-level vectorization: change mask, run-start positions, per-row
    sums and min/max over the flat values buffer — one pass for the whole
    batch (not per row). The chooser then receives fully-precomputed
    BlockStats so compute_stats never re-derives the change mask per row.
    All intermediates are O(n_rows + n_runs) except the bool mask itself:
    full-width cumsums (8 B/token) measured SECONDS of page-fault churn
    per large batch on memory-starved hosts — reduceat/searchsorted give
    the same per-row figures with KB-scale outputs."""
    n_rows = offsets.size - 1
    codecs_out: list[str] = []
    payloads: list[bytes] = []
    n_values = np.empty(n_rows, dtype=np.int32)
    n_runs = np.empty(n_rows, dtype=np.int32)
    tok_sum = np.empty(n_rows, dtype=np.int64)
    enc_bytes = np.empty(n_rows, dtype=np.int64)
    ref_bytes = np.empty(n_rows, dtype=np.int64)

    starts = offsets[:-1]
    valid = offsets[1:] > starts
    tok_sum_row = np.zeros(n_rows, dtype=np.int64)
    tok_min = np.zeros(n_rows, dtype=np.int32)
    tok_max = np.zeros(n_rows, dtype=np.int32)
    if flat.size:
        change = np.empty(flat.size, dtype=bool)
        change[0] = True
        np.not_equal(flat[1:], flat[:-1], out=change[1:])
        change[starts[starts < flat.size]] = True
        run_pos = np.flatnonzero(change)
        # run_off[i] = index into run_pos of row i's first run
        run_off = np.searchsorted(run_pos, offsets)
        # reduceat only at NON-EMPTY row starts: valid starts are strictly
        # increasing, so each segment spans exactly one row (the last valid
        # segment correctly extends to flat.size). Reducing at raw `starts`
        # would clamp a trailing empty row's boundary into the previous
        # row's segment and truncate its final element.
        vs = starts[valid].astype(np.int64)
        tok_sum_row[valid] = np.add.reduceat(flat, vs, dtype=np.int64)
        tok_min[valid] = np.minimum.reduceat(flat, vs)
        tok_max[valid] = np.maximum.reduceat(flat, vs)
    else:
        run_pos = np.zeros(0, dtype=np.int64)
        run_off = np.zeros(n_rows + 1, dtype=np.int64)

    if codec == "auto":
        # Batch chooser: NGRAM trials across the whole batch fuse into one
        # grammar build per round (choose_codec_batch) — per-row results
        # identical to choose_codec, per-call numpy overhead paid once.
        rows = [flat[offsets[i] : offsets[i + 1]] for i in range(n_rows)]
        stats_list = [
            _row_stats(
                flat, run_pos, int(run_off[i]), int(run_off[i + 1]),
                int(offsets[i + 1] - offsets[i]),
                int(run_off[i + 1] - run_off[i]),
                int(tok_min[i]), int(tok_max[i]),
            )
            for i in range(n_rows)
        ]
        def row_runs(i: int) -> tuple[np.ndarray, np.ndarray]:
            # Canonical runs from the batch change mask — computed only for
            # rows whose chooser actually trials RLE.
            starts_abs = run_pos[run_off[i] : run_off[i + 1]]
            ends = np.append(starts_abs[1:], offsets[i + 1])
            return flat[starts_abs], (ends - starts_abs).astype(np.int64)

        chosen = choose_codec_batch(
            rows, stats_list=stats_list, threshold=threshold, runs_fn=row_runs
        )
    else:
        chosen = None

    for i in range(n_rows):
        lo, hi = offsets[i], offsets[i + 1]
        r = int(run_off[i + 1] - run_off[i])
        if chosen is not None:
            name, payload = chosen[i]
        else:
            name, payload = codec, CODECS[codec].encode(flat[lo:hi])
        codecs_out.append(name)
        payloads.append(payload)
        n_values[i] = hi - lo
        n_runs[i] = r
        tok_sum[i] = tok_sum_row[i]
        enc_bytes[i] = len(payload)
        ref_bytes[i] = reference_rle_nbytes(r)

    return {
        "codec": codecs_out,
        "payload": payloads,
        "n_values": n_values,
        "n_runs": n_runs,
        "tok_sum": tok_sum,
        "tok_min": tok_min.astype(np.int32),
        "tok_max": tok_max.astype(np.int32),
        "encoded_bytes": enc_bytes,
        "ref_rle_bytes": ref_bytes,
    }


def _encode_batch(
    batch: pa.RecordBatch, codec: str, threshold: float, chunk_tokens: int | None = None
) -> pa.RecordBatch:
    """Encode a batch of token rows (``tokens`` or packed ``tok_bin``), cut
    into chunks of ``chunk_tokens`` first (:func:`_chunk_split`)."""
    flat, offsets, doc_id, source, *chunk_cols = _chunk_split(batch, chunk_tokens)
    c = _encode_column(flat, offsets, codec, threshold)
    codecs_out = c["codec"]
    payloads = c["payload"]
    n_values = c["n_values"]
    n_runs = c["n_runs"]
    tok_sum = c["tok_sum"]
    tok_min = c["tok_min"]
    tok_max = c["tok_max"]
    enc_bytes = c["encoded_bytes"]
    ref_bytes = c["ref_rle_bytes"]

    return pa.RecordBatch.from_arrays(
        [
            doc_id,
            source,
            pa.array(codecs_out, type=pa.string()),
            pa.array(payloads, type=pa.binary()),
            pa.array(n_values),
            pa.array(n_runs),
            pa.array(tok_sum),
            pa.array(tok_min),
            pa.array(tok_max),
            pa.array((n_values.astype(np.int64)) * 4),
            pa.array(enc_bytes),
            pa.array(ref_bytes),
            *chunk_cols,
        ],
        names=[
            "doc_id", "source", "codec", "payload", "n_values", "n_runs",
            "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
            "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset",
        ],
    )


def encode_df(
    df: DataFrame,
    codec: str = "auto",
    threshold: float = DEFAULT_THRESHOLD,
    num_partitions: int | None = None,
    chunk_tokens: int | None = None,
) -> DataFrame:
    """sequences DataFrame → encoded-blocks DataFrame.

    `codec='auto'` runs the cost-based chooser per block; a concrete codec
    name forces it (used by the per-codec round-trip queries).

    With ``num_partitions=None`` (default) the encode runs at scan
    parallelism — no shuffle; per-task work is bounded by
    ``spark.sql.files.maxPartitionBytes``, which is the cheap skew defense
    when the input layout is sane. With ``num_partitions`` set, tokens are
    first packed to binary (cheap to shuffle) and salted-repartitioned —
    the deterministic-partition path used by the checkpointing writer and
    the explicit defense for pathological input layouts.

    ``chunk_tokens`` splits sequences longer than the limit into multiple
    blocks (decode with ``decode_df(..., reassemble_chunks=True)``) —
    the skew defense for individual giant sequences. Without
    ``num_partitions`` the encode kernel cuts the chunks itself, so the
    plan has one Python map node and each token crosses into Python once.
    """
    if num_partitions:
        df = salted_repartition(pack_tokens_df(df, chunk_tokens=chunk_tokens), num_partitions)
    cut = None if num_partitions else chunk_tokens  # packed rows arrive already cut

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                yield _encode_batch(batch, codec, threshold, cut)

    return df.mapInArrow(kernel, BLOCK_SCHEMA)


# ---------------------------------------------------------------------------
# Compute-on-compressed: value-map over encoded blocks
# ---------------------------------------------------------------------------

# Scalar value-map operators over encoded blocks — the reference's scalar
# binary operator set restricted to maps that keep tokens in the
# non-negative int32 domain (/root/reference/rle_array/array.py:748-824:
# + - * // % ** & | ^; true-div excluded — it leaves the integer token
# domain; pow is integer-exact via rounded float64, see its entry).
# Each entry: (fn(values:int64, k) -> int64, operand validator).
#
# Overflow contract: the four GROWTH ops (add, mul, pow, rpow) bound-check
# their int64 intermediates and raise instead of wrapping. This matters in
# two places: (a) fused chains run intermediates in unchecked int64 — a
# mid-chain mul wrap or pow's float64→int64 cast artifact would otherwise
# be mapped back into valid int32 range by a trailing mod, so
# _checked_int32 passes and corrupt tokens are written silently; (b) even
# single-op mul can wrap back into [0, 2^31) (v=2^31, k=2^33 → exactly
# 2^64 → 0). Every other op is non-growing on non-negative inputs
# (sub/rsub clamp at 0; floordiv/mod/min/max shrink; bit-ops on two
# non-negative int64 stay ≤ max(v, k)-bit), so they need no check. The
# pow family additionally raises above 2^53, where float64 loses integer
# exactness — the residual chain limit: a pow intermediate must stay
# within float64's exact-integer range for downstream mod/floordiv to
# match true integer math.
_INT64_MAX = np.iinfo(np.int64).max
_POW_EXACT_MAX = float(2**53)


def _guarded_add(v: np.ndarray, k: int) -> np.ndarray:
    if k and v.size and int(v.max()) > _INT64_MAX - k:
        raise ValueError(
            f"transform overflow: add {k} on value {int(v.max())} exceeds int64"
        )
    return v + k


def _guarded_mul(v: np.ndarray, k: int) -> np.ndarray:
    if k >= 2 and v.size and int(np.abs(v).max()) > _INT64_MAX // k:
        raise ValueError(
            f"transform overflow: mul {k} on value {int(np.abs(v).max())} exceeds int64"
        )
    return v * k


def _checked_pow(out: np.ndarray) -> np.ndarray:
    """float64 pow result → int64, raising when any value is non-finite or
    beyond float64's exact-integer range (2^53) — past that point the
    rounded float is no longer the true integer power, so letting it flow
    into a downstream mod/floordiv would silently diverge."""
    if out.size and not bool(np.all(np.isfinite(out) & (np.abs(out) <= _POW_EXACT_MAX))):
        raise ValueError(
            "transform overflow: pow result exceeds float64 exact-integer "
            "range (2^53) or is non-finite"
        )
    return np.rint(out).astype(np.int64)


TRANSFORM_OPS = {
    "add": (_guarded_add, lambda k: k >= 0),
    "mul": (_guarded_mul, lambda k: k >= 0),
    # subtraction clamped at 0 (tokens are non-negative; the unclamped form
    # would raise in _checked_int32 on any value < k)
    "sub_floor": (lambda v, k: np.maximum(v - k, 0), lambda k: k >= 0),
    "floordiv": (lambda v, k: v // k, lambda k: k >= 1),
    "mod": (lambda v, k: v % k, lambda k: k >= 1),
    "bitand": (lambda v, k: v & k, lambda k: k >= 0),
    "bitor": (lambda v, k: v | k, lambda k: k >= 0),
    "bitxor": (lambda v, k: v ^ k, lambda k: k >= 0),
    # np.minimum/np.maximum vs a scalar (reference reaches these through
    # __array_ufunc__, array.py:698-746); with the chain they make clip
    # expressible compressed-domain: [("min", hi), ("max", lo)]
    "min": (np.minimum, lambda k: k >= 0),
    "max": (np.maximum, lambda k: k >= 0),
    # ``**`` (reference array.py:748-824, tests/test_operators.py:161-341):
    # computed in float64 — exact for any result ≤ 2^53; _checked_pow
    # raises past that (or on inf) BEFORE the int cast, so an overflowing
    # base**k can never smuggle a cast artifact into a downstream chain
    # step — the reference's int-overflow contract, enforced at the op.
    # rint before the int cast so a libm whose pow is not correctly
    # rounded (musl, old glibc) can't truncate 124.999… to 124 while SQL
    # CAST rounds to 125.
    "pow": (
        lambda v, k: _checked_pow(np.power(v.astype(np.float64), float(k))),
        lambda k: k >= 0,
    ),
    # reflected non-commutative forms (reference __rsub__/__rfloordiv__/
    # __rmod__/__rpow__, array.py:769-807): scalar OP values. Same token-
    # domain conventions as the forward forms — subtraction clamps at 0,
    # division/modulo are zero-safe (v == 0 → 0), pow is rint'ed float64
    # under the _checked_int32 overflow contract. The commutative
    # reflections (radd/rmul/rand/ror/rxor) are the forward entries.
    "rsub_floor": (lambda v, k: np.maximum(k - v, 0), lambda k: k >= 0),
    "rfloordiv": (
        lambda v, k: np.floor_divide(k, v, out=np.zeros_like(v), where=v != 0),
        lambda k: k >= 0,
    ),
    "rmod": (
        lambda v, k: np.mod(k, v, out=np.zeros_like(v), where=v != 0),
        lambda k: k >= 0,
    ),
    "rpow": (
        lambda v, k: _checked_pow(np.power(float(k), v.astype(np.float64))),
        lambda k: k >= 0,
    ),
}


def _transform_column_arrays(codecs_col, payload_col, n_col, fn):
    """Apply transform_block_stats to one (codec, payload, n_values)
    column triple of an Arrow batch → (codecs list, payloads list,
    n_runs, tok_sum, tok_min, tok_max arrays) — the per-row stats loop
    shared by ``_transform_kernel`` (token blocks) and
    ``transform_frame_df`` (one column of a wide frame row)."""
    from rle_array_spark.codecs.transform import transform_block_stats

    n_rows = len(codecs_col)
    new_codecs: list[str] = []
    new_payloads: list[bytes] = []
    n_runs = np.empty(n_rows, dtype=np.int32)
    tok_sum = np.empty(n_rows, dtype=np.int64)
    tok_min = np.empty(n_rows, dtype=np.int32)
    tok_max = np.empty(n_rows, dtype=np.int32)
    for i in range(n_rows):
        c, p, r, s, lo, hi = transform_block_stats(
            codecs_col[i],
            memoryview(payload_col[i].as_buffer()),
            int(n_col[i]),
            fn,
        )
        new_codecs.append(c)
        new_payloads.append(p)
        n_runs[i], tok_sum[i], tok_min[i], tok_max[i] = r, s, lo, hi
    return new_codecs, new_payloads, n_runs, tok_sum, tok_min, tok_max


def _transform_kernel(fn):
    """Build the mapInArrow kernel applying value-map ``fn`` to every block
    via transform_block_stats (compressed-domain where the codec allows,
    decode+re-choose fallback otherwise) with exact metadata recompute."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            (
                new_codecs, new_payloads, n_runs, tok_sum, tok_min, tok_max
            ) = _transform_column_arrays(
                batch.column("codec").to_pylist(),
                batch.column("payload"),
                batch.column("n_values").to_numpy(zero_copy_only=False),
                fn,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(new_codecs, type=pa.string()),
                    pa.array(new_payloads, type=pa.binary()),
                    batch.column("n_values"),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    batch.column("raw_bytes"),
                    pa.array(np.array([len(p) for p in new_payloads], dtype=np.int64)),
                    pa.array(np.array(
                        [reference_rle_nbytes(int(r)) for r in n_runs], dtype=np.int64
                    )),
                    *_chunk_cols(batch),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset",
                ],
            )

    return kernel


def transform_blocks(blocks: DataFrame, op: str, operand: int) -> DataFrame:
    """Apply a scalar value-map to every encoded block WITHOUT full decode:
    RLE transforms run values (O(n_runs)), DICT transforms the table
    (O(cardinality)) — the reference's compute-on-compressed operators
    (/root/reference/rle_array/array.py:846-849) at block granularity.

    Every metadata column (n_runs, tok_sum, tok_min, tok_max,
    encoded_bytes, ref_rle_bytes) is recomputed EXACTLY inside the kernel
    from the codec structure — non-monotonic ops (mod, bitand, sub_floor)
    and run-merging ops (mul 0) keep the zone maps truthful."""
    if op not in TRANSFORM_OPS:
        raise ValueError(f"unsupported op {op!r}; one of {sorted(TRANSFORM_OPS)}")
    base_fn, valid = TRANSFORM_OPS[op]
    if not valid(operand):
        raise ValueError(f"invalid operand {operand} for op {op!r}")

    def fn(v: np.ndarray) -> np.ndarray:
        return base_fn(v.astype(np.int64), operand)

    return blocks.mapInArrow(_transform_kernel(fn), BLOCK_SCHEMA)


def transform_blocks_chain(blocks: DataFrame, steps) -> DataFrame:
    """Fused chain of ``TRANSFORM_OPS`` scalar ops in ONE kernel pass —
    the token-domain sibling of ``typed.transform_typed_chain_df``.
    ``steps`` is a list of ``(op, operand)``; each operand is validated
    against its op up front, then the composed value map runs over each
    block's codec structure once (one payload parse + metadata recompute +
    mapInArrow stage instead of N). Intermediate values may leave the
    int32 token range mid-chain (int64 math throughout); only the FINAL
    values hit the ``_checked_int32`` domain contract — so a chain whose
    intermediate overflows int32 but whose result fits is accepted fused
    (the step-by-step composition would reject it after the overflowing
    step). Intermediates are NOT unchecked, though: the growth ops
    (add/mul/pow/rpow) raise before an int64 wrap or a >2^53 inexact pow
    (see the TRANSFORM_OPS overflow contract), so a trailing mod can
    never map wrapped garbage back into valid token range. Results are decode-identical to the step-by-step chain with
    exact metadata; the chosen CODEC may legitimately differ (each
    stepwise hop re-chooses from its input codec, the fused pass chooses
    once from the original — both choices are valid encodings of the
    same values; differential-tested on decode + metadata)."""
    fn = _resolve_token_chain(steps)
    return blocks.mapInArrow(_transform_kernel(fn), BLOCK_SCHEMA)


def _resolve_token_chain(steps):
    """→ composed int64 value map for a list of ``(op, operand)``
    ``TRANSFORM_OPS`` steps, operands validated up front — shared by
    ``transform_blocks_chain`` and the zips' fused ``post`` chains."""
    if not steps:
        raise ValueError("empty transform chain")
    resolved = []
    for op, operand in steps:
        if op not in TRANSFORM_OPS:
            raise ValueError(
                f"unsupported op {op!r}; one of {sorted(TRANSFORM_OPS)}"
            )
        base_fn, valid = TRANSFORM_OPS[op]
        if not valid(operand):
            raise ValueError(f"invalid operand {operand} for op {op!r}")
        resolved.append((base_fn, operand))

    def fn(v: np.ndarray) -> np.ndarray:
        # no-copy when the caller already hands int64 (transform_block_stats
        # and the rle/decode zip paths do); the dict path's int32 table
        # still gets its cast
        v = np.asarray(v, dtype=np.int64)
        for base_fn, k in resolved:
            v = base_fn(v, k)
        return v

    return fn


def _fuse_post(op: str, post):
    """→ the zip callable for ``op`` with an optional ``TRANSFORM_OPS``
    post chain composed onto its output — shared by ``zip_blocks_df`` and
    ``zip_frame_df`` so chain semantics can't drift between the two."""
    base = ZIP_OPS[op]
    if post is None:
        return base
    chain = _resolve_token_chain(post)

    def fused(a_, b_):
        return chain(base(a_, b_))

    return fused


def transform_blocks_fn(blocks: DataFrame, fn) -> DataFrame:
    """Generic value-map escape hatch — the reference's ``__array_ufunc__``
    (/root/reference/rle_array/array.py:698-746, tests/test_ufunc.py:21-108):
    apply ANY vectorized elementwise ``np.ndarray[int64] → array-like`` whose
    results stay in the non-negative int32 token domain.

    ``fn`` must be a pure VALUE map (applied to run values for RLE, the
    table for DICT, the value stream otherwise) — it sees each distinct
    value context once, not positions. Out-of-range results raise inside
    the kernel (never wrap); grammar codecs decode + re-choose with a
    PerformanceWarning, exactly like the fixed-op table."""

    def wrapped(v: np.ndarray) -> np.ndarray:
        return np.asarray(fn(v.astype(np.int64)))

    return blocks.mapInArrow(_transform_kernel(wrapped), BLOCK_SCHEMA)


def reverse_blocks(blocks: DataFrame) -> DataFrame:
    """Compressed-domain reversal — the reference's negative-step slice
    (NormalizedSlice, /root/reference/rle_array/_slicing.py; step<0 paths in
    tests/test_slicing.py). For RLE the payload is rebuilt by reversing the
    RUN order (O(n_runs), values never materialize); other codecs decode,
    reverse, and re-encode as RLE via the run splitter. Every metadata
    column is order-invariant, so only codec/payload/encoded_bytes change.

    Chunked docs are rejected: the reversed chunk offsets need the doc
    total, which is only known at reassembly — reverse after
    ``decode_df(reassemble_chunks=True)`` instead."""

    def kernel(batches):
        from rle_array_spark.codecs.reduce import _rle_parts
        from rle_array_spark.codecs.rle import encode_runs

        for batch in batches:
            if not batch.num_rows:
                continue
            if "n_chunks" in batch.schema.names:
                nch = batch.column("n_chunks").to_numpy(zero_copy_only=False)
                if (nch > 1).any():
                    raise ValueError(
                        "reverse_blocks requires unchunked blocks; reassemble first"
                    )
            codecs_col = batch.column("codec").to_pylist()
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            payload_col = batch.column("payload")
            new_payloads: list[bytes] = []
            for i in range(batch.num_rows):
                codec = codecs_col[i]
                payload = memoryview(payload_col[i].as_buffer())
                n = int(n_col[i])
                if codec == "rle":
                    rv, rl = _rle_parts(payload)
                    new_payloads.append(encode_runs(rv[::-1], rl[::-1]))
                else:  # same codec back: size characteristics preserved
                    vals = CODECS[codec].decode(payload, n)[::-1]
                    new_payloads.append(
                        CODECS[codec].encode(np.ascontiguousarray(vals))
                    )
            cols = {name: batch.column(name) for name in batch.schema.names}
            cols["payload"] = pa.array(new_payloads, type=pa.binary())
            cols["encoded_bytes"] = pa.array(
                np.array([len(p) for p in new_payloads], dtype=np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [cols[n] for n in batch.schema.names], names=batch.schema.names
            )

    return blocks.mapInArrow(kernel, BLOCK_SCHEMA)


def take_blocks(
    blocks: DataFrame,
    stride: int | None = None,
    offset: int = 0,
    indices=None,
) -> DataFrame:
    """Compressed-domain positional gather: keep values at sorted positions
    and emit RLE blocks DIRECTLY from the gathered runs — the reference's
    ``_take_kernel`` with its run-reuse optimization
    (/root/reference/rle_array/_algorithms.py:370-481) at block granularity.

    Positions are GLOBAL per doc_id: either the arithmetic grid
    ``offset, offset+stride, …`` or an explicit sorted ``indices`` array
    (same for every doc, clipped to each doc's length — the "sample every
    k-th token position" shape). Chunked blocks translate global positions
    through ``chunk_offset``, and the output's ``chunk_offset`` is rewritten
    to the number of taken positions before the chunk, so
    ``decode_df(reassemble_chunks=True)`` and positional stats stay exact.

    For RLE input the gathered sequence is never materialized (one
    searchsorted into run ends); metadata is recomputed exactly from the
    output runs."""
    if (stride is None) == (indices is None):
        raise ValueError("exactly one of stride / indices is required")
    if stride is not None and (stride < 1 or offset < 0):
        raise ValueError(f"need stride >= 1 and offset >= 0, got {stride}/{offset}")
    if indices is not None:
        # sorted, repeats ALLOWED (reference _take_kernel supports repeated
        # positions; run-reuse handles them for free)
        idx_global = np.asarray(indices, dtype=np.int64)
        if idx_global.size:
            if idx_global[0] < 0:
                raise ValueError("indices must be non-negative")
            if np.any(np.diff(idx_global) < 0):
                raise ValueError("indices must be sorted non-decreasing")
    else:
        idx_global = None

    def kernel(batches):
        from rle_array_spark.codecs.reduce import take_runs
        from rle_array_spark.codecs.rle import encode_runs

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            payload_col = batch.column("payload")
            _, _, chunk_off_arr = _chunk_cols(batch)
            chunk_off = np.asarray(chunk_off_arr)
            n_rows = batch.num_rows
            new_payloads: list[bytes] = []
            n_values = np.empty(n_rows, dtype=np.int32)
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            new_chunk_off = np.empty(n_rows, dtype=np.int64)
            for i in range(n_rows):
                n = int(n_col[i])
                coff = int(chunk_off[i])
                if stride is not None:
                    start_local = max(offset - coff, (offset - coff) % stride)
                    idx = np.arange(start_local, n, stride, dtype=np.int64)
                    taken_before = max(0, (coff - offset + stride - 1) // stride)
                else:
                    lo = int(np.searchsorted(idx_global, coff))
                    hi = int(np.searchsorted(idx_global, coff + n))
                    idx = idx_global[lo:hi] - coff
                    taken_before = lo
                rv, rl = take_runs(
                    codecs_col[i], memoryview(payload_col[i].as_buffer()), n, idx
                )
                new_payloads.append(encode_runs(rv, rl))
                n_values[i] = idx.size
                n_runs[i] = rv.size
                tok_sum[i] = int(np.dot(rv.astype(np.int64), rl)) if rv.size else 0
                tok_min[i] = int(rv.min()) if rv.size else 0
                tok_max[i] = int(rv.max()) if rv.size else 0
                new_chunk_off[i] = taken_before
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(["rle"] * n_rows, type=pa.string()),
                    pa.array(new_payloads, type=pa.binary()),
                    pa.array(n_values),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    pa.array(n_values.astype(np.int64) * 4),
                    pa.array(
                        np.array([len(p) for p in new_payloads], dtype=np.int64)
                    ),
                    pa.array(
                        np.array(
                            [reference_rle_nbytes(int(r)) for r in n_runs],
                            dtype=np.int64,
                        )
                    ),
                    _chunk_cols(batch)[0],
                    _chunk_cols(batch)[1],
                    pa.array(new_chunk_off),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset",
                ],
            )

    return blocks.mapInArrow(kernel, BLOCK_SCHEMA)


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

# Below this mean tokens-per-block, decode switches to the grouped
# vectorized reader: per-row NumPy decode is fixed-overhead-bound for tiny
# blocks, while for ≥~128-token blocks the per-row kernels already run at
# memory bandwidth and the vectorized path's index-gather passes cost more
# than they save (measured crossover on this class of host; see
# codecs/vdecode.py module docstring).
VECTORIZED_DECODE_MAX_MEAN_TOKENS = 64


def _decode_rows(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray]:
    """Decode every block row of a batch → (flat int32, int64 offsets).

    Adaptive by batch shape: tiny-block batches route through the grouped
    vectorized reader (codecs/vdecode.py), typical batches through the
    per-row kernels."""
    codecs_col = batch.column("codec").to_pylist()
    n_col = batch.column("n_values").to_numpy(zero_copy_only=False).astype(np.int64)
    payload_col = batch.column("payload")
    n_rows = batch.num_rows
    if (
        n_rows
        and payload_col.type == pa.binary()  # offsets read below are int32;
        # large_binary (int64 offsets) must take the per-row loop
        and payload_col.null_count == 0
        and int(n_col.sum()) < VECTORIZED_DECODE_MAX_MEAN_TOKENS * n_rows
    ):
        from rle_array_spark.codecs.vdecode import decode_rows_vectorized

        value_offsets = np.frombuffer(payload_col.buffers()[1], dtype=np.int32)
        lo = payload_col.offset
        starts = value_offsets[lo : lo + n_rows].astype(np.int64)
        ends = value_offsets[lo + 1 : lo + 1 + n_rows].astype(np.int64)
        buf = np.frombuffer(payload_col.buffers()[2], dtype=np.uint8)
        return decode_rows_vectorized(buf, starts, ends - starts, codecs_col, n_col)
    # NGRAM rows decode fused across the batch (one global expansion loop,
    # codecs/ngram.decode_group) — per-row grammar expansion measured
    # ~7.5 Mtok/s and dominated batch decode despite holding few tokens.
    gmap: dict[int, np.ndarray] = {}
    ngram_rows = [i for i in range(n_rows) if codecs_col[i] == "ngram"]
    if len(ngram_rows) > 1:
        from rle_array_spark.codecs.ngram import decode_group

        g = decode_group(
            [memoryview(payload_col[i].as_buffer()) for i in ngram_rows],
            n_col[ngram_rows],
        )
        bounds = np.cumsum(n_col[ngram_rows])[:-1]
        gmap = dict(zip(ngram_rows, np.split(g, bounds)))
    parts = []
    for i in range(n_rows):
        part = gmap.get(i)
        if part is None:
            payload = payload_col[i].as_buffer()
            part = CODECS[codecs_col[i]].decode(memoryview(payload), int(n_col[i]))
        parts.append(part)
    flat = np.concatenate(parts) if parts else np.array([], dtype=np.int32)
    offsets = np.concatenate(([0], np.cumsum(n_col, dtype=np.int64)))
    return flat, offsets


def decode_df(blocks: DataFrame, reassemble_chunks: bool = False) -> DataFrame:
    """encoded-blocks DataFrame → (doc_id, source, tokens) DataFrame.

    ``reassemble_chunks=True`` stitches chunked sequences back together
    (groupBy doc_id + ordered flatten — the reference's concat semantics,
    _algorithms.py:62-96, as a relational aggregate). Leave False for
    unchunked corpora: the default path is shuffle-free."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            flat, offsets = _decode_rows(batch)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    batch.column("chunk_idx"),
                    _numpy_to_list(flat, offsets),
                ],
                names=["doc_id", "source", "chunk_idx", "tokens"],
            )

    if not reassemble_chunks:
        return blocks.select(
            "doc_id", "source", "chunk_idx", "codec", "payload", "n_values"
        ).mapInArrow(
            kernel, "doc_id string, source string, chunk_idx int, tokens array<int>"
        ).select("doc_id", "source", "tokens")

    # Reassemble in the ENCODED domain: group the compressed payloads by
    # doc_id (the exchange ships binary payloads, ~2.5× smaller than raw
    # array<int>), then decode + concatenate per doc in one kernel AFTER
    # the shuffle. Never ships a decoded token array through an exchange —
    # the reference's concat semantics (_algorithms.py:62-96) at the
    # transport cost of the encoded form.
    grouped = blocks.groupBy("doc_id").agg(
        F.first("source").alias("source"),
        F.expr(
            "array_sort(collect_list(struct(chunk_idx, codec, payload, n_values)))"
        ).alias("chunks"),
    )

    def reassemble_kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            la = batch.column("chunks")
            if isinstance(la, pa.ChunkedArray):
                la = la.combine_chunks()
            list_off = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            list_off = list_off - list_off[0]
            flat_struct = la.flatten()
            sub = pa.RecordBatch.from_arrays(
                [
                    flat_struct.field("codec"),
                    flat_struct.field("payload"),
                    flat_struct.field("n_values"),
                ],
                names=["codec", "payload", "n_values"],
            )
            flat, chunk_off = _decode_rows(sub)
            doc_off = chunk_off[list_off]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    _numpy_to_list(flat, doc_off),
                ],
                names=["doc_id", "source", "tokens"],
            )

    return grouped.mapInArrow(reassemble_kernel, DECODED_SCHEMA).select(
        "doc_id", "source", "tokens"
    )


def _stats_batch(batch: pa.RecordBatch, flat: np.ndarray, offsets: np.ndarray) -> pa.RecordBatch:
    """Per-row scalar stats over a decoded/raw token batch. Batch-level
    change mask + reduceat, like _encode_batch: only the bool mask and one
    int64 weighted-product buffer are full-width; everything else is
    O(n_rows + n_runs). Cardinality remains a per-row unique over run
    values (the only inherently per-row sort)."""
    n = batch.num_rows
    tok_sum = np.zeros(n, dtype=np.int64)
    tok_min = np.zeros(n, dtype=np.int32)
    tok_max = np.zeros(n, dtype=np.int32)
    tok_wsum = np.zeros(n, dtype=np.int64)
    n_runs = np.zeros(n, dtype=np.int32)
    card = np.zeros(n, dtype=np.int32)
    if flat.size:
        from rle_array_spark.codecs.core import (
            EXACT_CARDINALITY_MAX_RUNS,
            _estimate_cardinality,
        )

        starts = offsets[:-1]
        valid = offsets[1:] > starts
        change = np.empty(flat.size, dtype=bool)
        change[0] = True
        np.not_equal(flat[1:], flat[:-1], out=change[1:])
        change[starts[starts < flat.size]] = True
        run_pos = np.flatnonzero(change)
        run_off = np.searchsorted(run_pos, offsets)
        # reduceat only at NON-EMPTY row starts (strictly increasing, so one
        # segment per row; last valid segment extends to flat.size). Raw
        # `starts` would fold a trailing empty row's boundary into the
        # previous row and truncate its final element.
        vs = starts[valid].astype(np.int64)
        sums_v = np.add.reduceat(flat, vs, dtype=np.int64)
        tok_sum[valid] = sums_v
        tok_min[valid] = np.minimum.reduceat(flat, vs)
        tok_max[valid] = np.maximum.reduceat(flat, vs)
        # weighted sum Σ v_k·(k_local+1): computed with GLOBAL positions and
        # corrected by lo·Σv per row — avoids materializing per-row-restarting
        # position indices (two full-width temporaries instead of three)
        wsum_global = np.add.reduceat(
            flat * np.arange(1, flat.size + 1, dtype=np.int64), vs, dtype=np.int64
        )
        tok_wsum[valid] = wsum_global - vs * sums_v
        n_runs_all = (run_off[1:] - run_off[:-1]).astype(np.int32)
        n_runs[valid] = n_runs_all[valid]
        for i in np.flatnonzero(valid):
            rv = flat[run_pos[run_off[i] : run_off[i + 1]]]
            if rv.size <= EXACT_CARDINALITY_MAX_RUNS:
                card[i] = np.unique(rv).size
            else:
                card[i] = _estimate_cardinality(rv, int(tok_min[i]), int(tok_max[i]))
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            batch.column("source"),
            pa.array((offsets[1:] - offsets[:-1]).astype(np.int32)),
            pa.array(tok_sum),
            pa.array(tok_min),
            pa.array(tok_max),
            pa.array(tok_wsum),
            pa.array(n_runs),
            pa.array(card),
        ],
        names=[
            "doc_id", "source", "n_tok", "tok_sum", "tok_min",
            "tok_max", "tok_wsum", "n_runs", "card",
        ],
    )


def decode_slice_df(blocks: DataFrame, start: int, stop: int) -> DataFrame:
    """Decode only ``tokens[start:stop]`` of every block — O(log n_runs +
    slice) per RLE block, window-unpack for the others (reference
    find_slice fast path, _algorithms.py:230-297). Returns
    (doc_id, source, tokens)."""

    def kernel(batches):
        from rle_array_spark.codecs.reduce import decode_slice

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            payload_col = batch.column("payload")
            parts = []
            for i in range(batch.num_rows):
                parts.append(
                    decode_slice(
                        codecs_col[i],
                        memoryview(payload_col[i].as_buffer()),
                        int(n_col[i]),
                        start,
                        stop,
                    )
                )
            lengths = np.array([p.size for p in parts], dtype=np.int64)
            flat = np.concatenate(parts) if parts else np.array([], dtype=np.int32)
            offsets = np.concatenate(([0], np.cumsum(lengths)))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), batch.column("source"), _numpy_to_list(flat, offsets)],
                names=["doc_id", "source", "tokens"],
            )

    return blocks.select("doc_id", "source", "codec", "payload", "n_values").mapInArrow(
        kernel, DECODED_SCHEMA
    )


def decode_stats_df(blocks: DataFrame) -> DataFrame:
    """Decode and reduce to per-row scalar stats in one kernel (never ships
    the decoded arrays through a shuffle — the audit/verify fast path)."""

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                yield _stats_batch(batch, *_decode_rows(batch))

    return blocks.select("doc_id", "source", "codec", "payload", "n_values").mapInArrow(
        kernel, STATS_SCHEMA
    )


ZIP_OPS = {
    "add": lambda a, b: a + b,
    "mul": lambda a, b: a * b,
    "max": np.maximum,
    "min": np.minimum,
    # clamped subtraction (tokens are non-negative, like the scalar op)
    "sub_floor": lambda a, b: np.maximum(a - b, 0),
    # zero-safe integer division pair (reference divmod/floordiv/mod,
    # tests/test_builtins.py test_divmod): b == 0 → 0, the SQL-portable
    # convention (oracles replicate with an IF/COALESCE guard)
    "floordiv": lambda a, b: np.floor_divide(
        a, b, out=np.zeros_like(a), where=b != 0
    ),
    "mod": lambda a, b: np.mod(a, b, out=np.zeros_like(a), where=b != 0),
    # ``**`` on the union grid (reference array.py:748-824): float64 pow is
    # exact below 2^53 and _checked_int32 enforces the int32 token-domain
    # overflow contract on the cast-back (inf → INT64_MIN → raises);
    # rint first so non-correctly-rounded libm pow can't truncate down
    "pow": lambda a, b: np.rint(
        np.power(a.astype(np.float64), b.astype(np.float64))
    ).astype(np.int64),
    # comparisons → 0/1 runs, the masking primitive (reference supports all
    # binary ops incl. comparisons on the union grid,
    # tests/test_operators.py:161-341); results are bool-as-int32 blocks
    # that RLE-compress to the mask's run structure
    "eq": lambda a, b: (a == b).astype(np.int64),
    "ne": lambda a, b: (a != b).astype(np.int64),
    "lt": lambda a, b: (a < b).astype(np.int64),
    "le": lambda a, b: (a <= b).astype(np.int64),
    "gt": lambda a, b: (a > b).astype(np.int64),
    "ge": lambda a, b: (a >= b).astype(np.int64),
}


def zip_blocks_df(
    blocks_a: DataFrame, blocks_b: DataFrame, op: str, post=None
) -> DataFrame:
    """Elementwise ``op`` over two encoded columns, aligned on
    (doc_id, chunk_idx), WITHOUT decoding when both sides are RLE — the
    run-boundary union-grid merge, O(runs_a + runs_b) per row (reference
    RLE⊕RLE path, extend_positions/extend_data
    /root/reference/rle_array/_algorithms.py:484-585, driver
    array.py:850-866). Mixed-codec rows decode-fallback and re-choose.

    Here the two columns arrive as separate DataFrames, so alignment is a
    shuffle join; in a deployed table both encoded columns live in ONE row
    (wide blocks table) and the zip is join-free. Result metadata is exact
    (payload_stats on the new payload).

    ``post`` is an optional ``(op, operand)`` chain of ``TRANSFORM_OPS``
    steps FUSED into the zip kernel — ``(a + b) * 3 % 251`` runs as one
    pass (union-grid/pair-table evaluation + emit once, not a zip stage
    plus N transform stages). Decode-identical to composing
    ``transform_blocks`` after the zip; intermediate values run in int64
    and only the final values hit the ``_checked_int32`` contract."""
    if op not in ZIP_OPS:
        raise ValueError(f"unsupported zip op {op!r}; one of {sorted(ZIP_OPS)}")
    zip_fn = _fuse_post(op, post)

    a = blocks_a.select(
        "doc_id", "source", "chunk_idx", "n_chunks", "chunk_offset",
        F.col("codec").alias("codec_a"), F.col("payload").alias("payload_a"),
        "n_values", "raw_bytes",
    )
    b = blocks_b.select(
        "doc_id", "chunk_idx",
        F.col("codec").alias("codec_b"), F.col("payload").alias("payload_b"),
        F.col("n_values").alias("n_values_b"),
    )
    joined = a.join(b, ["doc_id", "chunk_idx"], "inner")

    def kernel(batches):
        from rle_array_spark.codecs.reduce import payload_stats
        from rle_array_spark.codecs.zip_ops import zip_blocks

        base_fn = zip_fn

        for batch in batches:
            if not batch.num_rows:
                continue
            ca = batch.column("codec_a").to_pylist()
            cb = batch.column("codec_b").to_pylist()
            pa_col = batch.column("payload_a")
            pb_col = batch.column("payload_b")
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            nb_col = batch.column("n_values_b").to_numpy(zero_copy_only=False)
            n_rows = batch.num_rows
            new_codecs: list[str] = []
            new_payloads: list[bytes] = []
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            for i in range(n_rows):
                nv = int(n_col[i])
                if nv != int(nb_col[i]):
                    raise ValueError(
                        f"zip length mismatch for a row: {nv} != {int(nb_col[i])}"
                    )
                c, p = zip_blocks(
                    ca[i], memoryview(pa_col[i].as_buffer()),
                    cb[i], memoryview(pb_col[i].as_buffer()),
                    nv, base_fn,
                )
                new_codecs.append(c)
                new_payloads.append(p)
                n_runs[i], tok_sum[i], tok_min[i], tok_max[i] = payload_stats(c, p, nv)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(new_codecs, type=pa.string()),
                    pa.array(new_payloads, type=pa.binary()),
                    batch.column("n_values"),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    batch.column("raw_bytes"),
                    pa.array(np.array([len(p) for p in new_payloads], dtype=np.int64)),
                    pa.array(np.array(
                        [reference_rle_nbytes(int(r)) for r in n_runs], dtype=np.int64
                    )),
                    batch.column("chunk_idx"),
                    batch.column("n_chunks"),
                    batch.column("chunk_offset"),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset",
                ],
            )

    return joined.mapInArrow(kernel, BLOCK_SCHEMA)


def mask_blocks_df(value_blocks: DataFrame, mask_blocks_in: DataFrame) -> DataFrame:
    """Boolean-mask gather ``values[mask != 0]`` over two encoded columns
    aligned on (doc_id, chunk_idx) — the DataFrame form of the reference's
    boolean ``__getitem__`` (`/root/reference/rle_array/array.py:655-668`),
    composing with the comparison zips (which emit 0/1 RLE blocks) to give
    ``arr[arr == x]`` entirely in the run domain. Per-row work is
    O(runs_v + runs_m) on the RLE⊕RLE path (codecs/zip_ops.mask_blocks);
    all metadata including the new n_values and per-doc chunk_offset is
    recomputed exactly. Alignment is a shuffle join here (two separate
    DataFrames); in a deployed wide blocks table both columns share a row
    and the gather is join-free."""
    v = value_blocks.select(
        "doc_id", "source", "chunk_idx", "n_chunks",
        F.col("codec").alias("codec_v"), F.col("payload").alias("payload_v"),
        "n_values",
    )
    m = mask_blocks_in.select(
        "doc_id", "chunk_idx",
        F.col("codec").alias("codec_m"), F.col("payload").alias("payload_m"),
        F.col("n_values").alias("n_values_m"),
    )
    joined = v.join(m, ["doc_id", "chunk_idx"], "inner")

    def kernel(batches):
        from rle_array_spark.codecs.reduce import payload_stats
        from rle_array_spark.codecs.zip_ops import mask_blocks

        for batch in batches:
            if not batch.num_rows:
                continue
            cv = batch.column("codec_v").to_pylist()
            cm = batch.column("codec_m").to_pylist()
            pv_col = batch.column("payload_v")
            pm_col = batch.column("payload_m")
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            nm_col = batch.column("n_values_m").to_numpy(zero_copy_only=False)
            n_rows = batch.num_rows
            new_codecs: list[str] = []
            new_payloads: list[bytes] = []
            new_n = np.empty(n_rows, dtype=np.int32)
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            for i in range(n_rows):
                nv = int(n_col[i])
                if nv != int(nm_col[i]):
                    raise ValueError(
                        f"mask length mismatch for a row: {nv} != {int(nm_col[i])}"
                    )
                c, p, nn = mask_blocks(
                    cv[i], memoryview(pv_col[i].as_buffer()),
                    cm[i], memoryview(pm_col[i].as_buffer()),
                    nv,
                )
                new_codecs.append(c)
                new_payloads.append(p)
                new_n[i] = nn
                n_runs[i], tok_sum[i], tok_min[i], tok_max[i] = payload_stats(c, p, nn)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(new_codecs, type=pa.string()),
                    pa.array(new_payloads, type=pa.binary()),
                    pa.array(new_n),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    pa.array((new_n.astype(np.int64)) * 4),
                    pa.array(np.array([len(p) for p in new_payloads], dtype=np.int64)),
                    pa.array(np.array(
                        [reference_rle_nbytes(int(r)) for r in n_runs], dtype=np.int64
                    )),
                    batch.column("chunk_idx"),
                    batch.column("n_chunks"),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks",
                ],
            )

    schema = (
        "doc_id string, source string, codec string, payload binary, "
        "n_values int, n_runs int, tok_sum long, tok_min int, tok_max int, "
        "raw_bytes long, encoded_bytes long, ref_rle_bytes long, "
        "chunk_idx int, n_chunks int"
    )
    out = joined.mapInArrow(kernel, schema)
    # chunk offsets shift when positions are dropped: recompute the per-doc
    # running offset relationally (exact, window over the tiny blocks table)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return out.withColumn(
        "chunk_offset", F.coalesce(F.sum("n_values").over(w), F.lit(0)).cast("long")
    )


def filter_blocks_df(
    blocks: DataFrame, predicate_ops: list[tuple[str, int]]
) -> DataFrame:
    """Fused compressed-domain FILTER: derive a 0/1 mask from each block's
    OWN payload by chaining scalar transforms (e.g. ``[("mod", 7),
    ("floordiv", 3)]`` → nonzero exactly where x % 7 >= 3) and gather with
    it — `arr[f(arr)]` (reference boolean ``__getitem__`` fed by its own
    compute-on-compressed operators, array.py:655-668 + 846-849) in ONE
    mapInArrow pass. Unlike mask_blocks_df, there is no join, no shuffle,
    and NO mask payload at all: the predicate chain is evaluated directly
    in each codec's value domain (codecs/zip_ops.filter_block — run
    values for RLE, the table for DICT, same-codec re-encode without
    chooser trials elsewhere). The only exchange in the plan is the
    per-doc chunk_offset window at the end, carrying already-filtered
    encoded payloads."""
    if not predicate_ops:
        raise ValueError("predicate_ops must be a non-empty [(op, operand), ...]")
    fns = []
    for op, k in predicate_ops:
        if op not in TRANSFORM_OPS:
            raise ValueError(f"unsupported op {op!r}; one of {sorted(TRANSFORM_OPS)}")
        base_fn, valid = TRANSFORM_OPS[op]
        if not valid(k):
            raise ValueError(f"invalid operand {k} for op {op!r}")
        fns.append(lambda v, _f=base_fn, _k=k: _f(v.astype(np.int64), _k))

    def pred(v: np.ndarray) -> np.ndarray:
        for fn in fns:
            v = fn(v)
        return v

    def kernel(batches):
        from rle_array_spark.codecs.reduce import payload_stats
        from rle_array_spark.codecs.zip_ops import filter_block

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            payload_col = batch.column("payload")
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            n_rows = batch.num_rows
            new_codecs: list[str] = []
            new_payloads: list[bytes] = []
            new_n = np.empty(n_rows, dtype=np.int32)
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            for i in range(n_rows):
                nv = int(n_col[i])
                cv = codecs_col[i]
                pv = memoryview(payload_col[i].as_buffer())
                c, p, nn = filter_block(cv, pv, nv, pred)
                new_codecs.append(c)
                new_payloads.append(p)
                new_n[i] = nn
                n_runs[i], tok_sum[i], tok_min[i], tok_max[i] = payload_stats(
                    c, p, nn
                )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(new_codecs, type=pa.string()),
                    pa.array(new_payloads, type=pa.binary()),
                    pa.array(new_n),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    pa.array(new_n.astype(np.int64) * 4),
                    pa.array(
                        np.array([len(p) for p in new_payloads], dtype=np.int64)
                    ),
                    pa.array(
                        np.array(
                            [reference_rle_nbytes(int(r)) for r in n_runs],
                            dtype=np.int64,
                        )
                    ),
                    batch.column("chunk_idx"),
                    batch.column("n_chunks"),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks",
                ],
            )

    schema = (
        "doc_id string, source string, codec string, payload binary, "
        "n_values int, n_runs int, tok_sum long, tok_min int, tok_max int, "
        "raw_bytes long, encoded_bytes long, ref_rle_bytes long, "
        "chunk_idx int, n_chunks int"
    )
    out = blocks.select(
        "doc_id", "source", "codec", "payload", "n_values", "chunk_idx", "n_chunks"
    ).mapInArrow(kernel, schema)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return out.withColumn(
        "chunk_offset", F.coalesce(F.sum("n_values").over(w), F.lit(0)).cast("long")
    )


def value_counts_blocks_df(blocks: DataFrame) -> DataFrame:
    """Token histogram computed FROM PAYLOADS: each block emits its
    (value, partial count) pairs in one shuffle-free mapInArrow pass
    (codecs/reduce.value_counts_block — O(runs) for RLE, bincount over
    codes for DICT, values never decoded for either), then a relational
    groupBy completes the merge. The reference's ``value_counts`` as an
    aggregation pushdown: the shuffle carries only distinct values ×
    partitions, never token streams — the shape that survives a 100×
    scale-up. Returns (doc_id, value, count) per-doc partials merged
    across chunks; aggregate further (groupBy value) for a corpus
    histogram."""

    def kernel(batches):
        from rle_array_spark.codecs.reduce import value_counts_block

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            payload_col = batch.column("payload")
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            doc_ids = batch.column("doc_id").to_pylist()
            out_docs: list[str] = []
            out_vals: list[np.ndarray] = []
            out_counts: list[np.ndarray] = []
            for i in range(batch.num_rows):
                vals, counts = value_counts_block(
                    codecs_col[i],
                    memoryview(payload_col[i].as_buffer()),
                    int(n_col[i]),
                )
                if vals.size:
                    out_docs.extend([doc_ids[i]] * vals.size)
                    out_vals.append(vals)
                    out_counts.append(counts)
            if out_docs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_docs, type=pa.string()),
                        pa.array(np.concatenate(out_vals)),
                        pa.array(np.concatenate(out_counts)),
                    ],
                    names=["doc_id", "value", "count"],
                )

    partials = blocks.select("doc_id", "codec", "payload", "n_values").mapInArrow(
        kernel, "doc_id string, value int, count long"
    )
    return partials.groupBy("doc_id", "value").agg(
        F.sum("count").alias("count")
    )


def source_quantiles_df(
    blocks: DataFrame,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    interpolation: str = "lower",
) -> DataFrame:
    """Exact per-source discrete quantiles computed from the compressed
    value-counts histogram — tokens are never decoded. Per-block partial
    histograms (O(runs), value_counts_blocks_df) merge relationally, a
    cumulative window over ascending values finds, for each probability p,
    the smallest value whose cumulative count reaches ceil(p * n) — the
    same 1-based discrete convention as DuckDB's ``quantile_disc`` and the
    reference's pandas ``quantile(interpolation='lower')`` path on its
    decode fallback (/root/reference/rle_array/array.py:537-560).

    Scale shape: the shuffle carries only (source, value, count) pairs —
    bounded by vocabulary × sources, not token count — then one tiny
    window over at most |vocab| rows per source. Survives a 100× corpus
    the same way value_counts does. The (doc_id, source) mapping joins
    from a second scan of ``blocks``: over a WRITTEN blocks table that is
    a two-column parquet scan (payload column pruned); only when blocks
    are computed inline does that branch re-run the encode — persist
    ``blocks`` first in that case.

    ``probs`` must be binary-exact fractions (k/2^m, e.g. 0.25/0.5/0.75)
    so ceil(p*n) is the same number in every engine's float arithmetic;
    asserted here rather than documented-and-hoped.

    ``interpolation='linear'`` returns the pandas/numpy-linear (and DuckDB
    ``quantile_cont``) variant the reference's decode-fallback ``quantile``
    inherits (/root/reference/rle_array/array.py:537-554): with h =
    (n-1)·p, result = v⌊h⌋ + (h−⌊h⌋)·(v⌊h⌋₊₁ − v⌊h⌋), still computed from
    the same compressed histogram — the two order statistics come from the
    same cumulative window, so no decode and the identical scale shape.
    Binary-exact p keeps h and the fraction exact in doubles, so the
    interpolated value is bit-identical across engines. Output columns are
    DOUBLE in linear mode, INT (value dtype) in lower mode.
    ``interpolation='both'`` returns BOTH sets in one aggregation pass
    (columns pXX_disc + pXX_cont) — one scan, no persist needed by callers
    that want the two conventions side by side.
    """
    if interpolation not in ("lower", "linear", "both"):
        raise ValueError(
            f"interpolation must be 'lower', 'linear' or 'both', got {interpolation!r}"
        )
    for p in probs:
        if not (0 < p <= 1) or (p * 2**32) != int(p * 2**32):
            raise ValueError(f"probability {p} is not a binary-exact fraction")
    vc = value_counts_blocks_df(blocks)
    src = blocks.select("doc_id", "source").distinct()
    hist = (
        vc.join(src, "doc_id")
        .groupBy("source", "value")
        .agg(F.sum("count").alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n_toks", F.sum("cnt").over(w_all)
    )
    if interpolation == "both":
        aggs = quantile_aggs("n_toks", probs, "lower", suffix="_disc")
        aggs += quantile_aggs("n_toks", probs, "linear", suffix="_cont")
    else:
        aggs = quantile_aggs("n_toks", probs, interpolation)
    return cum.groupBy("source", "n_toks").agg(*aggs)


def quantile_aggs(
    count_col: str,
    probs: tuple[float, ...],
    interpolation: str,
    suffix: str = "",
) -> list:
    """Aggregate expressions picking quantiles out of a cumulative
    histogram (columns ``value``, ``cum``, ``count_col``) — the ONE copy
    of the rank/interpolation math shared by the token-side
    ``source_quantiles_df`` and the typed-side
    ``typed.doc_quantiles_typed_df`` (the cross-engine parity contract
    depends on both staying bit-identical).

    ``lower``: smallest value with cum ≥ ceil(p·n) (DuckDB quantile_disc).
    ``linear``: h = (n−1)p; interpolate between the order statistics at
    1-based ranks floor(h)+1 and min(floor(h)+2, n) — both out of the SAME
    cumulative column, no extra pass (DuckDB quantile_cont / numpy-linear).
    """
    aggs = []
    for p in probs:
        name = f"p{int(p * 100)}{suffix}"
        if interpolation == "lower":
            aggs.append(
                F.min(
                    F.when(
                        F.col("cum") >= F.ceil(F.lit(p) * F.col(count_col)),
                        F.col("value"),
                    )
                ).alias(name)
            )
            continue
        h = F.lit(p) * (F.col(count_col) - 1).cast("double")
        lo_rank = F.floor(h) + 1
        hi_rank = F.least(lo_rank + 1, F.col(count_col))
        frac = h - F.floor(h).cast("double")
        lo_val = F.min(F.when(F.col("cum") >= lo_rank, F.col("value")))
        hi_val = F.min(F.when(F.col("cum") >= hi_rank, F.col("value")))
        aggs.append(
            (
                lo_val.cast("double")
                + frac * (hi_val.cast("double") - lo_val.cast("double"))
            ).alias(name)
        )
    return aggs


def dedup_exact_encoded_df(blocks: DataFrame) -> DataFrame:
    """Exact duplicate detection over ENCODED blocks — no decode, no raw
    text: the codecs are byte-canonical (identical token arrays under the
    same encode parameters produce identical ordered (codec, payload)
    chunk lists — the determinism the resume fingerprint already relies
    on), so md5 over a doc's ordered chunk payloads is a token-stream
    fingerprint. Compare pipeline.exact_dedup_groups, which hashes raw
    text: this one runs over an already-encoded corpus at ~compression
    ratio fewer bytes hashed, and the only shuffle carries (fingerprint,
    doc_id) pairs. Returns duplicate groups: (fingerprint, n_toks,
    n_docs > 1, representative = min doc_id)."""
    per_chunk = blocks.select(
        "doc_id",
        "chunk_idx",
        "n_values",
        F.md5(F.concat(F.encode("codec", "utf-8"), F.col("payload"))).alias("chunk_h"),
    )
    per_doc = per_chunk.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_h"))),
                    lambda s: s["chunk_h"],
                ),
            )
        ).alias("fingerprint"),
        F.sum("n_values").alias("n_toks"),
    )
    return (
        per_doc.groupBy("fingerprint", "n_toks")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative"))
        .filter(F.col("n_docs") > 1)
    )


def docs_containing_df(blocks: DataFrame, token: int) -> DataFrame:
    """Which docs contain ``token``, and how often — the contamination-
    screening / inverted-lookup shape over encoded blocks. Two-stage:

    1. ZONE-MAP PRUNE: a relational ``tok_min <= T <= tok_max`` filter on
       the metadata columns. Over parquet-written blocks Catalyst pushes
       this into the scan (PushedFilters, pinned by
       tests/test_plans.py:20), so pruned blocks' payloads are never read
       — the property that matters when 99% of a 100 TB corpus can't
       contain the token.
    2. Surviving payloads count occurrences in the COMPRESSED domain
       (value_counts_block: run values for RLE, table lookup for DICT —
       O(runs), never decoding), merged per doc across chunks.
    """
    pruned = blocks.filter(
        (F.col("tok_min") <= F.lit(int(token))) & (F.col("tok_max") >= F.lit(int(token)))
    )

    def kernel(batches):
        from rle_array_spark.codecs.reduce import value_counts_block

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            payload_col = batch.column("payload")
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            doc_ids = batch.column("doc_id").to_pylist()
            out_docs: list[str] = []
            out_hits: list[int] = []
            for i in range(batch.num_rows):
                vals, counts = value_counts_block(
                    codecs_col[i],
                    memoryview(payload_col[i].as_buffer()),
                    int(n_col[i]),
                )
                j = np.searchsorted(vals, token)
                if j < vals.size and vals[j] == token:
                    out_docs.append(doc_ids[i])
                    out_hits.append(int(counts[j]))
            if out_docs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_docs, type=pa.string()),
                        pa.array(np.array(out_hits, dtype=np.int64)),
                    ],
                    names=["doc_id", "n_hits"],
                )

    partials = pruned.select("doc_id", "codec", "payload", "n_values").mapInArrow(
        kernel, "doc_id string, n_hits long"
    )
    return partials.groupBy("doc_id").agg(F.sum("n_hits").alias("n_hits"))


def sort_blocks_df(blocks: DataFrame, descending: bool = False) -> DataFrame:
    """Per-doc sorted copy computed from HISTOGRAMS, never from decoded
    sequences: value_counts partials merge across a doc's chunks, and the
    sorted sequence is emitted directly as RLE — values ascending, run
    lengths = counts (sorted RLE IS the histogram). The shuffle carries
    only (value, count) pairs; the output is one block per doc (chunking
    collapses — a sorted doc is maximally runny, so single blocks stay
    small). The reference sorts through the pandas extension machinery's
    decode path; this is the compressed-domain form."""
    vc = value_counts_blocks_df(blocks)
    src = blocks.select("doc_id", "source").distinct()
    per_doc = vc.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("value", "count")), asc=not descending
        ).alias("hist")
    ).join(src, "doc_id")

    def kernel(batches):
        from rle_array_spark.codecs.rle import encode_runs

        for batch in batches:
            if not batch.num_rows:
                continue
            hist = batch.column("hist")
            if isinstance(hist, pa.ChunkedArray):
                hist = hist.combine_chunks()
            offsets = hist.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            offsets = offsets - offsets[0]
            child = hist.flatten()
            all_vals = child.field("value").to_numpy(zero_copy_only=False)
            all_counts = child.field("count").to_numpy(zero_copy_only=False)
            n_rows = batch.num_rows
            payloads: list[bytes] = []
            n_values = np.empty(n_rows, dtype=np.int32)
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            for i in range(n_rows):
                lo, hi = int(offsets[i]), int(offsets[i + 1])
                vals = all_vals[lo:hi].astype(np.int32)
                counts = all_counts[lo:hi].astype(np.int64)
                payloads.append(encode_runs(vals, counts))
                n_values[i] = int(counts.sum())
                n_runs[i] = vals.size
                tok_sum[i] = int(np.dot(vals.astype(np.int64), counts))
                tok_min[i] = int(vals.min()) if vals.size else 0
                tok_max[i] = int(vals.max()) if vals.size else 0
            zeros = np.zeros(n_rows, dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(["rle"] * n_rows, type=pa.string()),
                    pa.array(payloads, type=pa.binary()),
                    pa.array(n_values),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    pa.array(n_values.astype(np.int64) * 4),
                    pa.array(np.array([len(p) for p in payloads], dtype=np.int64)),
                    pa.array(
                        np.array(
                            [reference_rle_nbytes(int(r)) for r in n_runs],
                            dtype=np.int64,
                        )
                    ),
                    pa.array(zeros),
                    pa.array(np.ones(n_rows, dtype=np.int32)),
                    pa.array(np.zeros(n_rows, dtype=np.int64)),
                ],
                names=[
                    "doc_id", "source", "codec", "payload", "n_values", "n_runs",
                    "tok_sum", "tok_min", "tok_max", "raw_bytes", "encoded_bytes",
                    "ref_rle_bytes", "chunk_idx", "n_chunks", "chunk_offset",
                ],
            )

    return per_doc.mapInArrow(kernel, BLOCK_SCHEMA)


BLOCK_REDUCTIONS_SCHEMA = (
    "doc_id string, source string, n_tok int, tok_sum long, "
    "tok_min int, tok_max int, any_nz boolean, all_nz boolean, prod_mod long"
)

# modulus for the exact compressed-domain product (block_prod_mod) — any
# prime < 2^31 keeps per-step products inside int64
PROD_MODULUS = 1_000_000_007


def block_reductions_df(blocks: DataFrame) -> DataFrame:
    """Per-block reductions computed in the COMPRESSED domain — sum as
    dot(run_values, run_lengths), min/max/any/all over run values or the
    dict table only (reference compute-on-compressed reductions,
    /root/reference/rle_array/array.py:478-616) — never materializing the
    decoded arrays. The payload-kernel twin of the metadata columns: blocks
    written by other jobs (or hand-altered payloads) are audited against
    this, not against their own claimed metadata."""

    def kernel(batches):
        from rle_array_spark.codecs.reduce import (
            block_any_all,
            block_min_max,
            block_prod_mod,
            block_sum,
        )

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False)
            payload_col = batch.column("payload")
            n = batch.num_rows
            sums = np.zeros(n, dtype=np.int64)
            mins = np.zeros(n, dtype=np.int32)
            maxs = np.zeros(n, dtype=np.int32)
            anys = np.zeros(n, dtype=bool)
            alls = np.zeros(n, dtype=bool)
            prods = np.zeros(n, dtype=np.int64)
            for i in range(n):
                payload = memoryview(payload_col[i].as_buffer())
                nv = int(n_col[i])
                sums[i] = block_sum(codecs_col[i], payload, nv)
                mins[i], maxs[i] = block_min_max(codecs_col[i], payload, nv)
                anys[i], alls[i] = block_any_all(codecs_col[i], payload, nv)
                prods[i] = block_prod_mod(codecs_col[i], payload, nv, PROD_MODULUS)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(n_col.astype(np.int32)),
                    pa.array(sums),
                    pa.array(mins),
                    pa.array(maxs),
                    pa.array(anys),
                    pa.array(alls),
                    pa.array(prods),
                ],
                names=[
                    "doc_id", "source", "n_tok", "tok_sum",
                    "tok_min", "tok_max", "any_nz", "all_nz", "prod_mod",
                ],
            )

    return blocks.select("doc_id", "source", "codec", "payload", "n_values").mapInArrow(
        kernel, BLOCK_REDUCTIONS_SCHEMA
    )


def doc_stats_from_chunked(blocks: DataFrame) -> DataFrame:
    """Per-document stats for a chunked blocks table: reassemble, then the
    standard stats kernel. Exact for every column (including cardinality,
    which is not derivable from per-chunk stats)."""
    return tokens_stats_df(decode_df(blocks, reassemble_chunks=True))


def tokens_stats_df(df: DataFrame) -> DataFrame:
    """Same per-row scalar stats computed directly on a sequences DataFrame
    (no codec involved) — the differential-oracle twin of decode_stats_df."""

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                yield _stats_batch(batch, *_list_to_numpy(batch.column("tokens")))

    return df.select("doc_id", "source", "tokens").mapInArrow(kernel, STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Verification (differential vs the uncompressed input, the reference's
# dominant test pattern — tests/test_operators.py, tests/test_reduce.py:91-112)
# ---------------------------------------------------------------------------

def verify_roundtrip(df: DataFrame, blocks: DataFrame, reassemble_chunks: bool = False) -> int:
    """Join decoded blocks back to the input on doc_id and count rows whose
    token arrays are NOT bit-identical. 0 == pass."""
    decoded = decode_df(blocks, reassemble_chunks=reassemble_chunks).select(
        "doc_id", F.col("tokens").alias("decoded")
    )
    joined = df.select("doc_id", "tokens").join(decoded, "doc_id", "inner")
    n_in = df.count()
    n_ok = joined.filter(F.col("tokens").eqNullSafe(F.col("decoded"))).count()
    return n_in - n_ok


# ---------------------------------------------------------------------------
# Frame-level multi-column encode (reference auto_convert_to_rle operates on
# whole DataFrames, /root/reference/rle_array/autoconversion.py:40-130; our
# wide-blocks form additionally makes cross-column ops join-free)
# ---------------------------------------------------------------------------

_FRAME_COL_FIELDS = (
    ("codec", "string"),
    ("payload", "binary"),
    ("n_values", "int"),
    ("n_runs", "int"),
    ("tok_sum", "long"),
    ("tok_min", "int"),
    ("tok_max", "int"),
    ("encoded_bytes", "long"),
)


def frame_schema(token_cols: list[str]) -> str:
    cols = ["doc_id string", "source string"]
    for c in token_cols:
        cols.extend(f"{c}__{f} {t}" for f, t in _FRAME_COL_FIELDS)
    return ", ".join(cols)


def encode_frame_df(
    df: DataFrame,
    token_cols: list[str],
    codec: str = "auto",
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """Encode EVERY listed ``array<int>`` column of a DataFrame into one
    wide blocks row per input row — the frame-level analog of the
    reference's ``auto_convert_to_rle`` (each column gets its own per-row
    codec choice). Columns of one row stay together, so cross-column
    compressed ops (zip_frame_df) need no join and no shuffle.

    Giant-sequence chunking is a single-column concern (pack_tokens_df) and
    is not applied here: frame rows are assumed bounded (chunk upstream or
    use the single-column path for giant-sequence corpora)."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            arrays = [batch.column("doc_id"), batch.column("source")]
            names = ["doc_id", "source"]
            for cname in token_cols:
                flat, offsets = _list_to_numpy(batch.column(cname))
                c = _encode_column(flat, offsets, codec, threshold)
                arrays.extend(
                    [
                        pa.array(c["codec"], type=pa.string()),
                        pa.array(c["payload"], type=pa.binary()),
                        pa.array(c["n_values"]),
                        pa.array(c["n_runs"]),
                        pa.array(c["tok_sum"]),
                        pa.array(c["tok_min"]),
                        pa.array(c["tok_max"]),
                        pa.array(c["encoded_bytes"]),
                    ]
                )
                names.extend(f"{cname}__{f}" for f, _ in _FRAME_COL_FIELDS)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.select("doc_id", "source", *token_cols).mapInArrow(
        kernel, frame_schema(token_cols)
    )


def decode_frame_df(blocks: DataFrame, token_cols: list[str]) -> DataFrame:
    """Wide blocks → (doc_id, source, <col> array<int> per column)."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            arrays = [batch.column("doc_id"), batch.column("source")]
            names = ["doc_id", "source"]
            for cname in token_cols:
                codecs_col = batch.column(f"{cname}__codec").to_pylist()
                n_col = batch.column(f"{cname}__n_values").to_numpy(zero_copy_only=False)
                payload_col = batch.column(f"{cname}__payload")
                parts = [
                    CODECS[codecs_col[i]].decode(
                        memoryview(payload_col[i].as_buffer()), int(n_col[i])
                    )
                    for i in range(batch.num_rows)
                ]
                flat = np.concatenate(parts) if parts else np.array([], dtype=np.int32)
                offsets = np.concatenate(([0], np.cumsum(n_col, dtype=np.int64)))
                arrays.append(_numpy_to_list(flat, offsets))
                names.append(cname)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "doc_id string, source string, " + ", ".join(
        f"{c} array<int>" for c in token_cols
    )
    need = ["doc_id", "source"] + [
        f"{c}__{f}" for c in token_cols for f in ("codec", "payload", "n_values")
    ]
    return blocks.select(*need).mapInArrow(kernel, schema)


def zip_frame_df(
    blocks: DataFrame, col_a: str, col_b: str, op: str, out_col: str = "z",
    post=None,
) -> DataFrame:
    """Elementwise ``op`` between two encoded columns OF THE SAME wide row —
    zero joins, zero shuffles (the columns were co-located by
    encode_frame_df). RLE⊕RLE rows use the union-grid merge; the result is
    appended as a new encoded column ``out_col`` with exact metadata.
    ``post`` fuses a ``TRANSFORM_OPS`` chain into the same pass (see
    ``zip_blocks_df``)."""
    if op not in ZIP_OPS:
        raise ValueError(f"unsupported zip op {op!r}; one of {sorted(ZIP_OPS)}")
    zip_fn = _fuse_post(op, post)

    in_cols = list(blocks.columns)
    out_schema = ", ".join(
        [f"`{c}` {t}" for c, t in zip(in_cols, _frame_types(blocks))]
        + [f"{out_col}__{f} {t}" for f, t in _FRAME_COL_FIELDS]
    )

    def kernel(batches):
        from rle_array_spark.codecs.reduce import payload_stats
        from rle_array_spark.codecs.zip_ops import zip_blocks

        base_fn = zip_fn
        for batch in batches:
            if not batch.num_rows:
                continue
            ca = batch.column(f"{col_a}__codec").to_pylist()
            cb = batch.column(f"{col_b}__codec").to_pylist()
            pa_col = batch.column(f"{col_a}__payload")
            pb_col = batch.column(f"{col_b}__payload")
            na = batch.column(f"{col_a}__n_values").to_numpy(zero_copy_only=False)
            nb = batch.column(f"{col_b}__n_values").to_numpy(zero_copy_only=False)
            n_rows = batch.num_rows
            codecs_out: list[str] = []
            payloads: list[bytes] = []
            n_runs = np.empty(n_rows, dtype=np.int32)
            tok_sum = np.empty(n_rows, dtype=np.int64)
            tok_min = np.empty(n_rows, dtype=np.int32)
            tok_max = np.empty(n_rows, dtype=np.int32)
            for i in range(n_rows):
                nv = int(na[i])
                if nv != int(nb[i]):
                    raise ValueError(f"zip length mismatch: {nv} != {int(nb[i])}")
                c, p = zip_blocks(
                    ca[i], memoryview(pa_col[i].as_buffer()),
                    cb[i], memoryview(pb_col[i].as_buffer()),
                    nv, base_fn,
                )
                codecs_out.append(c)
                payloads.append(p)
                n_runs[i], tok_sum[i], tok_min[i], tok_max[i] = payload_stats(c, p, nv)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in in_cols]
                + [
                    pa.array(codecs_out, type=pa.string()),
                    pa.array(payloads, type=pa.binary()),
                    batch.column(f"{col_a}__n_values"),
                    pa.array(n_runs),
                    pa.array(tok_sum),
                    pa.array(tok_min),
                    pa.array(tok_max),
                    pa.array(np.array([len(p) for p in payloads], dtype=np.int64)),
                ],
                names=in_cols + [f"{out_col}__{f}" for f, _ in _FRAME_COL_FIELDS],
            )

    return blocks.mapInArrow(kernel, out_schema)


def _frame_types(blocks: DataFrame) -> list[str]:
    return [f.dataType.simpleString() for f in blocks.schema.fields]


def transform_frame_df(
    blocks: DataFrame, col, steps=None, out_col: str | None = None
) -> DataFrame:
    """Scalar ``TRANSFORM_OPS`` chain(s) over encoded columns of a wide
    frame row — the reference's scalar dunders applied to frame columns
    (``df.x * 3 % 251``) without unpacking the frame: zero joins, zero
    shuffles (columns stay co-located), every chain fused into one kernel
    pass per block (compressed-domain where the codec allows, via
    transform_block_stats). Shapes:

    * ``transform_frame_df(wide, 'x', steps)`` — rewrite ``x`` in place;
    * ``transform_frame_df(wide, 'x', steps, out_col='y')`` — append the
      result as a new encoded column ``y``, source untouched (the
      ``df['y'] = df.x * 3`` shape);
    * ``transform_frame_df(wide, {'x': steps_x, 'y': steps_y})`` — N
      in-place chains in the SAME kernel pass (one task launch and one
      Arrow transfer for the whole batch of columns).

    All metadata recomputed exactly; n_values unchanged (value map)."""
    enc_cols = {c[: -len("__codec")] for c in blocks.columns if c.endswith("__codec")}
    if isinstance(col, dict):
        if steps is not None or out_col is not None:
            raise ValueError(
                "dict form takes per-column steps; steps/out_col must be None"
            )
        if not col:
            raise ValueError("empty column->steps mapping")
        plans = []  # (source col, target col, fn)
        for c, s in col.items():
            if c not in enc_cols:
                raise ValueError(f"column {c!r} not in frame ({sorted(enc_cols)})")
            plans.append((c, c, _resolve_token_chain(s)))
        append_col = None
    else:
        if col not in enc_cols:
            raise ValueError(f"column {col!r} not in frame ({sorted(enc_cols)})")
        if out_col is not None and out_col in enc_cols:
            raise ValueError(f"out_col {out_col!r} already in frame")
        plans = [(col, col if out_col is None else out_col, _resolve_token_chain(steps))]
        append_col = out_col

    in_cols = list(blocks.columns)
    if append_col is None:
        out_names = in_cols
        out_schema = ", ".join(
            f"`{c}` {t}" for c, t in zip(in_cols, _frame_types(blocks))
        )
    else:
        out_names = in_cols + [f"{append_col}__{f}" for f, _ in _FRAME_COL_FIELDS]
        out_schema = ", ".join(
            [f"`{c}` {t}" for c, t in zip(in_cols, _frame_types(blocks))]
            + [f"{append_col}__{f} {t}" for f, t in _FRAME_COL_FIELDS]
        )

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            new_by_target: dict[str, dict] = {}
            for src, target, fn in plans:
                (
                    codecs_out, payloads, n_runs, tok_sum, tok_min, tok_max
                ) = _transform_column_arrays(
                    batch.column(f"{src}__codec").to_pylist(),
                    batch.column(f"{src}__payload"),
                    batch.column(f"{src}__n_values").to_numpy(zero_copy_only=False),
                    fn,
                )
                new_by_target[target] = {
                    "codec": pa.array(codecs_out, type=pa.string()),
                    "payload": pa.array(payloads, type=pa.binary()),
                    "n_values": batch.column(f"{src}__n_values"),
                    "n_runs": pa.array(n_runs),
                    "tok_sum": pa.array(tok_sum),
                    "tok_min": pa.array(tok_min),
                    "tok_max": pa.array(tok_max),
                    "encoded_bytes": pa.array(
                        np.array([len(p) for p in payloads], dtype=np.int64)
                    ),
                }
            arrays = []
            for name in out_names:
                cname, _, field = name.rpartition("__")
                if cname in new_by_target and field in new_by_target[cname]:
                    arrays.append(new_by_target[cname][field])
                else:
                    arrays.append(batch.column(name))
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return blocks.mapInArrow(kernel, out_schema)


def filter_frame_df(
    blocks: DataFrame, mask_col: str, drop_mask: bool = True
) -> DataFrame:
    """Relational row FILTER over an encoded wide frame: one 0/1 encoded
    mask column (the output of a zip_frame_df comparison) gathers EVERY
    encoded column of the same wide row — the reference's
    ``df[df.x < df.y]`` over a frame of RLE columns
    (/root/reference/rle_array/array.py:655-668 applied per column; the
    reference's pandas integration filters all columns positionally).

    Zero joins and zero shuffles: the columns were co-located by
    encode_frame_df, and each output column is produced by the
    compressed-domain mask gather (codecs/zip_ops.mask_blocks — union-grid
    for RLE⊕RLE, code-domain for DICT). All per-column metadata including
    the shared new n_values is recomputed exactly. The mask's own columns
    are dropped by default (a filtered mask is all-ones — dead weight);
    pass drop_mask=False to keep it."""
    enc_cols = sorted(
        {c[: -len("__codec")] for c in blocks.columns if c.endswith("__codec")}
    )
    if mask_col not in enc_cols:
        raise ValueError(f"mask column {mask_col!r} not in frame ({enc_cols})")
    out_cols = [c for c in enc_cols if c != mask_col or not drop_mask]

    in_cols = list(blocks.columns)
    key_cols = [c for c in in_cols if "__" not in c]
    dropped = {f"{mask_col}__{f}" for f, _ in _FRAME_COL_FIELDS} if drop_mask else set()
    out_names = [c for c in in_cols if c not in dropped]
    types = dict(zip(in_cols, _frame_types(blocks)))
    out_schema = ", ".join(f"`{c}` {types[c]}" for c in out_names)

    def kernel(batches):
        from rle_array_spark.codecs.reduce import payload_stats
        from rle_array_spark.codecs.zip_ops import mask_blocks

        for batch in batches:
            if not batch.num_rows:
                continue
            n_rows = batch.num_rows
            cm = batch.column(f"{mask_col}__codec").to_pylist()
            pm_col = batch.column(f"{mask_col}__payload")
            nm = batch.column(f"{mask_col}__n_values").to_numpy(zero_copy_only=False)
            per_col: dict[str, dict] = {}
            for cname in out_cols:
                cv = batch.column(f"{cname}__codec").to_pylist()
                pv_col = batch.column(f"{cname}__payload")
                nv_col = batch.column(f"{cname}__n_values").to_numpy(
                    zero_copy_only=False
                )
                codecs_out: list[str] = []
                payloads: list[bytes] = []
                n_values = np.empty(n_rows, dtype=np.int32)
                n_runs = np.empty(n_rows, dtype=np.int32)
                tok_sum = np.empty(n_rows, dtype=np.int64)
                tok_min = np.empty(n_rows, dtype=np.int32)
                tok_max = np.empty(n_rows, dtype=np.int32)
                for i in range(n_rows):
                    nv = int(nv_col[i])
                    if nv != int(nm[i]):
                        raise ValueError(
                            f"frame filter length mismatch on {cname!r}: "
                            f"{nv} != {int(nm[i])}"
                        )
                    c, p, nn = mask_blocks(
                        cv[i], memoryview(pv_col[i].as_buffer()),
                        cm[i], memoryview(pm_col[i].as_buffer()),
                        nv,
                    )
                    codecs_out.append(c)
                    payloads.append(p)
                    n_values[i] = nn
                    (
                        n_runs[i], tok_sum[i], tok_min[i], tok_max[i]
                    ) = payload_stats(c, p, nn)
                per_col[cname] = {
                    "codec": pa.array(codecs_out, type=pa.string()),
                    "payload": pa.array(payloads, type=pa.binary()),
                    "n_values": pa.array(n_values),
                    "n_runs": pa.array(n_runs),
                    "tok_sum": pa.array(tok_sum),
                    "tok_min": pa.array(tok_min),
                    "tok_max": pa.array(tok_max),
                    "encoded_bytes": pa.array(
                        np.array([len(p) for p in payloads], dtype=np.int64)
                    ),
                }
            arrays = []
            for name in out_names:
                if "__" not in name:
                    arrays.append(batch.column(name))
                    continue
                cname, field = name.rsplit("__", 1)
                arrays.append(per_col[cname][field])
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return blocks.mapInArrow(kernel, out_schema)
