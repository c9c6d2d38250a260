"""Spark jobs: encode / decode / verify over tokenized-sequence tables.

All kernels are ``mapInArrow`` batch functions (Iterator[pa.RecordBatch] →
Iterator[pa.RecordBatch]); token arrays are accessed through Arrow list
offsets/values as NumPy views — no per-row Python UDFs (BASELINE.json
`input_hint`). Everything relational above the kernels is the stock
DataFrame API, so Catalyst keeps predicate pushdown / column pruning /
AQE for free (SURVEY.md §4).
"""

from __future__ import annotations

import numbers
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rle_array_spark import _daemon, _jvmcds
from rle_array_spark.blocks import (
    TOKENS,
    carried,
    emit,
    pair_blocks,
    payload_cols,
    rewrite_blocks,
    rewrite_column,
    value_counts_df,
    wide_arrays,
)
from rle_array_spark.chooser import DEFAULT_THRESHOLD, choose_codec_batch
from rle_array_spark.codecs import CODECS, compute_stats
from rle_array_spark.codecs.rle import reference_rle_nbytes

TOKENS_FIELD = pa.field("tokens", pa.list_(pa.int32()))

BLOCK_SCHEMA = TOKENS.ddl()

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


def _default_driver_memory() -> str:
    """min(16g, 40% of physical memory): in local mode the driver heap is
    the whole engine's, and a heap sized past the machine lets the JVM grow
    until the host's out-of-memory killer stops it."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 << 10, int(phys * 0.4) >> 20)}m"


def session(
    app: str = "rle-array-spark",
    cores: int | str = "*",
    shuffle_partitions: int = 32,
    arrow_batch_rows: int = 1024,
    max_partition_bytes: int = 16 * 1024 * 1024,
    reader_batch_rows: int = 256,
    driver_memory: str = _default_driver_memory(),
) -> SparkSession:
    """Local session with the engine's required configs. On a real cluster
    the same configs ride spark-submit --conf; nothing here is local-only.

    The session turns off PySpark's DataFrame call-site capture
    (``spark.python.sql.dataFrameDebugging.enabled=false``), so a
    DataFrame error message carries no block naming the Python line that
    built the failing expression. The capture costs py4j round trips on
    every ``Column`` built; a caller who wants the block builds their own
    session (a static conf: it cannot be set on a running one) — the
    engine works with any session.

    It also starts Spark's Python daemon through ``rle_array_spark._daemon``
    (``spark.python.daemon.module``), which loads pyspark from a
    byte-compiled copy of Spark's ``pyspark.zip`` and reads each zip
    archive once before it forks a worker, when the worker interpreter can
    import that module (``_daemon.worker_can_import``); Spark's own daemon
    otherwise.

    Its driver JVM maps Spark's classes from a class-data-sharing archive
    (``spark.driver.defaultJavaOptions``), built once per JDK and Spark
    install by a child process on the first session of a machine, when the
    Spark conf dir holds only templates (``rle_array_spark._jvmcds``)."""
    builder = SparkSession.builder
    if _daemon.worker_can_import():
        builder = builder.config("spark.python.daemon.module", _daemon.__name__)
    builder = (
        builder.master(f"local[{cores}]")
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
        # Local mode: the driver heap IS the executor heap (default: 16g or
        # 40% of the machine, whichever is less). 16g across 32 concurrent
        # tasks is 0.5 GB/task — enough for the engine's own
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    with _jvmcds.driver_options() as opts:
        if opts:
            builder = builder.config("spark.driver.defaultJavaOptions", opts)
        return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Arrow helpers
# ---------------------------------------------------------------------------

def _list_to_numpy(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values int32, offsets int64 of len n+1) for a list<int32> array.

    Uses list_value_length + list_flatten, which are offset/slice-safe
    (ListArray.offsets is not, after Arrow-level slicing).
    """
    lengths = pc.list_value_length(col)
    if col.null_count:  # a null list holds no values (list_flatten emits none)
        lengths = pc.fill_null(lengths, 0)
    lengths = lengths.to_numpy(zero_copy_only=False).astype(np.int64)
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
    packed batch keeps the chunk columns it carries (``blocks.carried``).
    Chunks of a row are contiguous and in order, so the flat values buffer
    is shared unchanged and only the offsets are re-cut. The per-batch body
    of both :func:`pack_tokens_df` and the chunked :func:`encode_df`."""
    flat, offsets = _tokens_from_batch(batch)
    doc_id, source = batch.column("doc_id"), batch.column("source")
    lengths = offsets[1:] - offsets[:-1]
    if not chunk_tokens or not lengths.size or int(lengths.max()) <= chunk_tokens:
        return (flat, offsets, doc_id, source, *carried(TOKENS, batch))
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
    keys = _salted_keys(df, num_partitions, salt_buckets)
    return df.repartition(num_partitions, *map(F.expr, keys))


def salted_partition_id(df: DataFrame, num_partitions: int) -> Column:
    """The partition :func:`salted_repartition` sends each row of ``df``
    to, as a column: Spark's hash partitioner is ``pmod(hash(keys), P)``
    (Murmur3, seed 42 — the same function as SQL ``hash``), so this needs
    no shuffle."""
    return F.expr(f"pmod(hash({', '.join(_salted_keys(df, num_partitions))}), {num_partitions})")


def _salted_keys(df: DataFrame, num_partitions: int, salt_buckets: int | None = None) -> list[str]:
    """The repartition keys as SQL text (one parse per key instead of a
    py4j call per expression node): source, the log2 length bucket and a
    doc_id salt. chunk_idx joins the salt when present so the chunks of
    one giant sequence spread instead of inheriting the doc's single salt
    value."""
    if salt_buckets is None:
        salt_buckets = num_partitions * 8
    length_col = "n_tok" if "n_tok" in df.columns else "n_values"
    salt_cols = "doc_id, chunk_idx" if "chunk_idx" in df.columns else "doc_id"
    return [
        "source",
        f"CAST(ceil(log2({length_col} + 2.0D)) AS INT)",
        f"pmod(xxhash64({salt_cols}), {salt_buckets})",
    ]


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

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


def _run_scan(flat: np.ndarray, offsets: np.ndarray):
    """One batch-level run scan over a column's flat values + row offsets →
    (run_pos, run_off, row_sum, row_min, row_max): every run's start in
    ``flat`` (a row start always starts a run), the index in run_pos of
    each row's first run (n_rows + 1 entries), and per-row sum/min/max (0
    for an empty row). Only the bool change mask is full-width: full-width
    cumsums (8 B/token) measured SECONDS of page-fault churn per large
    batch on memory-starved hosts — reduceat/searchsorted give the same
    per-row figures with KB-scale outputs."""
    n_rows = offsets.size - 1
    row_sum = np.zeros(n_rows, dtype=np.int64)
    row_min = np.zeros(n_rows, dtype=np.int32)
    row_max = np.zeros(n_rows, dtype=np.int32)
    if not flat.size:
        return np.zeros(0, np.int64), np.zeros(n_rows + 1, np.int64), row_sum, row_min, row_max
    starts = offsets[:-1]
    change = np.empty(flat.size, dtype=bool)
    change[0] = True
    np.not_equal(flat[1:], flat[:-1], out=change[1:])
    change[starts[starts < flat.size]] = True
    run_pos = np.flatnonzero(change)
    # reduceat only at NON-EMPTY row starts: valid starts are strictly
    # increasing, so each segment spans exactly one row (the last valid
    # segment correctly extends to flat.size). Reducing at raw `starts`
    # would clamp a trailing empty row's boundary into the previous row's
    # segment and truncate its final element.
    valid = offsets[1:] > starts
    vs = starts[valid].astype(np.int64)
    row_sum[valid] = np.add.reduceat(flat, vs, dtype=np.int64)
    row_min[valid] = np.minimum.reduceat(flat, vs)
    row_max[valid] = np.maximum.reduceat(flat, vs)
    return run_pos, np.searchsorted(run_pos, offsets), row_sum, row_min, row_max


def _encode_column(
    flat: np.ndarray, offsets: np.ndarray, codec: str, threshold: float
) -> dict:
    """Encode one logical column (flat values + row offsets) → per-row
    codec names, payloads and exact metadata arrays.

    Batch-level vectorization: one :func:`_run_scan` for the whole batch
    (not per row). The chooser then receives fully-precomputed BlockStats
    so compute_stats never re-derives the change mask per row."""
    n_rows = offsets.size - 1
    codecs_out: list[str] = []
    payloads: list[bytes] = []
    n_values = np.empty(n_rows, dtype=np.int32)
    n_runs = np.empty(n_rows, dtype=np.int32)
    tok_sum = np.empty(n_rows, dtype=np.int64)
    enc_bytes = np.empty(n_rows, dtype=np.int64)
    ref_bytes = np.empty(n_rows, dtype=np.int64)

    run_pos, run_off, tok_sum_row, tok_min, tok_max = _run_scan(flat, offsets)

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
    c.update(zip(("chunk_idx", "n_chunks", "chunk_offset"), chunk_cols))
    c.update(doc_id=doc_id, source=source, raw_bytes=c["n_values"].astype(np.int64) * 4)
    return emit(TOKENS, c)


def _positive_int(x) -> bool:
    return isinstance(x, numbers.Integral) and not isinstance(x, bool) and x >= 1


def check_encode_args(codec: str, chunk_tokens=None, num_partitions=None, codecs=CODECS,
                      auto_chunks: bool = False) -> None:
    """Raise ``ValueError`` at the call for an encode argument that the
    kernels would reject only inside an executor, or silently ignore: a
    codec outside ``codecs`` and ``auto``, a ``chunk_tokens`` other than
    None, an int >= 1 (or ``"auto"`` with ``auto_chunks``), a
    ``num_partitions`` other than None or an int >= 1."""
    if codec != "auto" and codec not in codecs:
        raise ValueError(f"unknown codec {codec!r}; expected 'auto' or one of {sorted(codecs)}")
    if not (chunk_tokens is None or _positive_int(chunk_tokens) or (auto_chunks and chunk_tokens == "auto")):
        allowed = "None, 'auto'" if auto_chunks else "None"
        raise ValueError(f"chunk_tokens must be {allowed} or an int >= 1, got {chunk_tokens!r}")
    if not (num_partitions is None or _positive_int(num_partitions)):
        raise ValueError(f"num_partitions must be an int >= 1, got {num_partitions!r}")


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
    check_encode_args(codec, chunk_tokens, num_partitions)
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


def _transform_row(fn):
    """Row function for :func:`rewrite_blocks` applying value-map ``fn``
    through transform_block_stats (compressed-domain where the codec
    allows, decode+re-choose fallback otherwise); its one-parse exact
    stats are the block's metadata core, so no payload is parsed twice."""
    from rle_array_spark.codecs.transform import transform_block_stats

    def row(codec, payload, n):
        c, p, *core = transform_block_stats(codec, payload, n, fn)
        return c, p, n, core

    return row


def transform_blocks(blocks: DataFrame, op: str, operand: int) -> DataFrame:
    """Apply a scalar value-map to every encoded block WITHOUT full decode:
    RLE transforms run values (O(n_runs)), DICT transforms the table
    (O(cardinality)) — the reference's compute-on-compressed operators
    (/root/reference/rle_array/array.py:846-849) at block granularity.

    Every metadata column (n_runs, tok_sum, tok_min, tok_max,
    encoded_bytes, ref_rle_bytes) is recomputed EXACTLY inside the kernel
    from the codec structure — non-monotonic ops (mod, bitand, sub_floor)
    and run-merging ops (mul 0) keep the zone maps truthful."""
    return transform_blocks_chain(blocks, [(op, operand)])


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
    return rewrite_blocks(blocks, TOKENS, _transform_row(fn))


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


def _zip_row(op: str, post):
    """→ the pair row function zipping two payloads with ``op`` and an
    optional ``TRANSFORM_OPS`` post chain composed onto its output —
    shared by ``zip_blocks_df`` and ``zip_frame_df`` so chain semantics
    can't drift between the two."""
    from rle_array_spark.codecs.zip_ops import zip_blocks

    if op not in ZIP_OPS:
        raise ValueError(f"unsupported zip op {op!r}; one of {sorted(ZIP_OPS)}")
    fn = ZIP_OPS[op]
    if post is not None:
        chain, base = _resolve_token_chain(post), fn
        fn = lambda a_, b_: chain(base(a_, b_))  # noqa: E731

    def row(ca, pa_, cb, pb, n):
        return zip_blocks(ca, pa_, cb, pb, n, fn)

    return row


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

    return rewrite_blocks(blocks, TOKENS, _transform_row(wrapped))


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
        from rle_array_spark.codecs.rle import decode_runs, encode_runs

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
                    rv, rl = decode_runs(payload)
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


def take_positions(stride: int | None, offset: int, indices) -> np.ndarray | None:
    """Validate a positional gather's arguments (a ``stride``/``offset``
    grid, or sorted non-negative ``indices`` with repeats allowed — the
    reference ``_take_kernel`` supports repeated positions) → the indices
    as int64, or None for the grid."""
    if (stride is None) == (indices is None):
        raise ValueError("exactly one of stride / indices is required")
    if stride is not None and (stride < 1 or offset < 0):
        raise ValueError(f"need stride >= 1 and offset >= 0, got {stride}/{offset}")
    if indices is None:
        return None
    idx = np.asarray(indices, dtype=np.int64)
    if idx.size and idx[0] < 0:
        raise ValueError("indices must be non-negative")
    if np.any(np.diff(idx) < 0):
        raise ValueError("indices must be sorted non-decreasing")
    return idx


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
    idx_global = take_positions(stride, offset, indices)

    def kernel(batches):
        from rle_array_spark.codecs.reduce import runs_stats, take_runs
        from rle_array_spark.codecs.rle import encode_runs

        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col, payload_col, n_col = payload_cols(batch)
            codecs_col, n_col = codecs_col.to_pylist(), n_col.to_numpy(zero_copy_only=False)
            idx_col, n_chunks_col, chunk_off = carried(TOKENS, batch)
            cols = {f: [] for f in ("codec", "payload", "n_values", *TOKENS.meta, "chunk_offset")}
            for i, coff in enumerate(np.asarray(chunk_off).tolist()):
                n = int(n_col[i])
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
                p = encode_runs(rv, rl)
                core = runs_stats(rv, rl)
                for col, v in zip(cols.values(), (
                    "rle", p, idx.size, *TOKENS.stats("rle", p, idx.size, core), taken_before
                )):
                    col.append(v)
            cols.update(doc_id=batch.column("doc_id"), source=batch.column("source"),
                        chunk_idx=idx_col, n_chunks=n_chunks_col)
            yield emit(TOKENS, cols)

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


def _doc_starts(ids: pa.Array) -> np.ndarray:
    """Row indices where a new document begins in a doc_id-sorted column
    (row 0 included); two nulls are the same document, as in a groupBy."""
    cur, prev = ids[1:], ids[:-1]
    differs = pc.coalesce(pc.not_equal(cur, prev), pc.xor(pc.is_null(cur), pc.is_null(prev)))
    return np.concatenate(([0], np.flatnonzero(differs.to_numpy(zero_copy_only=False)) + 1))


def _stitch_docs(batches):
    """mapInArrow kernel over block rows sorted by (doc_id, chunk_idx, …):
    decode each batch once, then emit every document that lies wholly
    inside it as a list slice of the batch's flat buffer (no copy). Only
    the batch's last document is carried, as a list of arrays, and
    concatenated once when the next document starts or the input ends —
    a document may hold more chunks than one Arrow batch. ``source`` is
    the document's first row's."""
    carry = None  # [doc_id, source] (1-row arrays) + token arrays of the open doc

    def flush():
        doc_id, source, parts = carry
        tokens = np.concatenate(parts)
        return pa.RecordBatch.from_arrays(
            [doc_id, source, _numpy_to_list(tokens, np.array([0, tokens.size]))],
            names=["doc_id", "source", "tokens"],
        )

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        flat, offsets = _decode_rows(batch)
        ids = batch.column("doc_id")
        bounds = np.append(_doc_starts(ids), n)
        if carry is not None and carry[0][0].as_py() == ids[0].as_py():
            carry[2].append(flat[offsets[0] : offsets[bounds[1]]])
            if bounds.size == 2:  # the whole batch continues the open document
                continue
            bounds = bounds[1:]
        if carry is not None:
            yield flush()
        last = int(bounds[-2])
        if bounds.size > 2:
            whole = bounds[:-1]
            lo, hi = offsets[whole[0]], offsets[last]
            yield pa.RecordBatch.from_arrays(
                [ids.take(whole[:-1]), batch.column("source").take(whole[:-1]),
                 _numpy_to_list(flat[lo:hi], offsets[whole] - lo)],
                names=["doc_id", "source", "tokens"],
            )
        carry = [ids.slice(last, 1), batch.column("source").slice(last, 1),
                 [flat[offsets[last] : offsets[n]]]]
    if carry is not None:
        yield flush()


def decode_df(blocks: DataFrame, reassemble_chunks: bool = False) -> DataFrame:
    """encoded-blocks DataFrame → (doc_id, source, tokens) DataFrame.

    ``reassemble_chunks=True`` stitches chunked sequences back together
    (the reference's concat semantics, _algorithms.py:62-96): rows sharing
    a doc_id become one row whose tokens concatenate in (chunk_idx, codec,
    payload, n_values) order. Leave False for unchunked corpora: the
    default path is shuffle-free."""

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

    # Reassemble in the ENCODED domain: hash the compressed payloads to
    # their doc_id's partition (the exchange ships binary payloads, ~2.5×
    # smaller than raw array<int>) and sort them by document, then decode
    # and stitch in one kernel AFTER the shuffle. No aggregate buffers the
    # payloads per document, and no decoded token array crosses an
    # exchange. DISTRIBUTE BY without a count is repartition(doc_id), so
    # AQE still coalesces the small exchange; SORT BY sorts within
    # partitions. As SQL text the plan costs ~48 py4j round trips, the
    # same chain of Column builders ~86.
    ordered = blocks.sparkSession.sql(
        "SELECT doc_id, source, chunk_idx, codec, payload, n_values FROM {blocks} "
        "DISTRIBUTE BY doc_id SORT BY doc_id, chunk_idx, codec, payload, n_values",
        blocks=blocks,
    )
    return ordered.mapInArrow(_stitch_docs, DECODED_SCHEMA)


def _stats_batch(batch: pa.RecordBatch, flat: np.ndarray, offsets: np.ndarray) -> pa.RecordBatch:
    """Per-row scalar stats over a decoded/raw token batch: the
    :func:`_run_scan` of _encode_column, plus one int64 weighted-product
    buffer (the only other full-width temporary). Cardinality remains a
    per-row unique over run values (the only inherently per-row sort)."""
    n = batch.num_rows
    run_pos, run_off, tok_sum, tok_min, tok_max = _run_scan(flat, offsets)
    tok_wsum = np.zeros(n, dtype=np.int64)
    # an empty row's first and next run offsets coincide: 0 runs
    n_runs = np.diff(run_off).astype(np.int32)
    card = np.zeros(n, dtype=np.int32)
    if flat.size:
        from rle_array_spark.codecs.core import (
            EXACT_CARDINALITY_MAX_RUNS,
            _estimate_cardinality,
        )

        starts = offsets[:-1]
        valid = offsets[1:] > starts
        vs = starts[valid].astype(np.int64)
        # weighted sum Σ v_k·(k_local+1): computed with GLOBAL positions and
        # corrected by lo·Σv per row — avoids materializing per-row-restarting
        # position indices (two full-width temporaries instead of three)
        wsum_global = np.add.reduceat(
            flat * np.arange(1, flat.size + 1, dtype=np.int64), vs, dtype=np.int64
        )
        tok_wsum[valid] = wsum_global - vs * tok_sum[valid]
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
    return pair_blocks(blocks_a, blocks_b, TOKENS, ["doc_id", "chunk_idx"], _zip_row(op, post),
                       what="a zip row")


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
    from rle_array_spark.codecs.zip_ops import mask_blocks

    return pair_blocks(
        value_blocks, mask_blocks_in, TOKENS, ["doc_id", "chunk_idx"], mask_blocks, resize=True,
        what="a mask row",
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
    from rle_array_spark.codecs.zip_ops import filter_block

    pred = _resolve_token_chain(predicate_ops)
    return rewrite_blocks(
        blocks, TOKENS, lambda c, p, n: filter_block(c, p, n, pred), resize=True
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
    from rle_array_spark.codecs.reduce import value_counts_block

    return value_counts_df(blocks, value_counts_block, "int")


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
        from rle_array_spark.codecs.reduce import runs_stats
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
            cols = {f: [] for f in ("codec", "payload", "n_values", *TOKENS.meta)}
            for i in range(batch.num_rows):
                lo, hi = int(offsets[i]), int(offsets[i + 1])
                vals = all_vals[lo:hi].astype(np.int32)
                counts = all_counts[lo:hi].astype(np.int64)
                p = encode_runs(vals, counts)
                n = int(counts.sum())
                for col, v in zip(cols.values(), (
                    "rle", p, n, *TOKENS.stats("rle", p, n, runs_stats(vals, counts))
                )):
                    col.append(v)
            # one unchunked block per doc
            cols.update({c: np.full(batch.num_rows, v) for c, v in TOKENS.carried.items()})
            cols.update(doc_id=batch.column("doc_id"), source=batch.column("source"))
            yield emit(TOKENS, cols)

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

def frame_schema(token_cols: list[str]) -> str:
    from rle_array_spark.tableframe import wide_ddl

    return wide_ddl({c: "int" for c in token_cols})


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
    compressed ops (zip_frame_df) need no join and no shuffle. This is
    ``tableframe.encode_table_df`` over int columns.

    Giant-sequence chunking is a single-column concern (pack_tokens_df) and
    is not applied here: frame rows are assumed bounded (chunk upstream or
    use the single-column path for giant-sequence corpora)."""
    from rle_array_spark.tableframe import _encode_wide

    return _encode_wide(df, token_cols, codec, threshold)


def decode_frame_df(blocks: DataFrame, token_cols: list[str]) -> DataFrame:
    """Wide blocks → (doc_id, source, <col> array<int> per column)."""
    from rle_array_spark.tableframe import decode_table_df

    return decode_table_df(blocks, {c: "int" for c in token_cols})


def _frame_kernel(blocks: DataFrame, out_names: list[str], columns_fn):
    """(kernel, schema) of a wide-frame rewrite: ``columns_fn(batch)`` →
    {column: rewritten TOKENS field dict}; every other output column is
    the input's."""
    types = dict(zip(blocks.columns, (f.dataType.simpleString() for f in blocks.schema.fields)))
    fields = dict(TOKENS.fields)
    schema = ", ".join(f"`{n}` {types.get(n) or fields[n.rpartition('__')[2]]}" for n in out_names)

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            new = {}
            for cname, cols in columns_fn(batch).items():
                arrays, names = wide_arrays(TOKENS, cols, cname)
                new.update(zip(names, arrays))
            yield pa.RecordBatch.from_arrays(
                [new[n] if n in new else batch.column(n) for n in out_names], names=out_names
            )

    return kernel, schema


def _enc_cols(blocks: DataFrame) -> list[str]:
    return sorted(c[: -len("__codec")] for c in blocks.columns if c.endswith("__codec"))


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
    row_op = _zip_row(op, post)
    kernel, schema = _frame_kernel(
        blocks, list(blocks.columns) + [f"{out_col}__{f}" for f in TOKENS.wide],
        lambda b: {out_col: rewrite_column(TOKENS, *payload_cols(b, f"{col_a}__"), row_op,
                                           other=payload_cols(b, f"{col_b}__"),
                                           what=f"column {col_a!r} zipped with {col_b!r}")},
    )
    return blocks.mapInArrow(kernel, schema)


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
    enc_cols = _enc_cols(blocks)
    if isinstance(col, dict):
        if steps is not None or out_col is not None:
            raise ValueError(
                "dict form takes per-column steps; steps/out_col must be None"
            )
        if not col:
            raise ValueError("empty column->steps mapping")
        chains = col.items()
    else:
        chains = [(col, steps)]
        if out_col is not None and out_col in enc_cols:
            raise ValueError(f"out_col {out_col!r} already in frame")
    plans = []  # (source col, target col, row fn)
    for c, s in chains:
        if c not in enc_cols:
            raise ValueError(f"column {c!r} not in frame ({enc_cols})")
        plans.append((c, out_col or c, _transform_row(_resolve_token_chain(s))))

    out_names = list(blocks.columns)
    if out_col is not None:
        out_names += [f"{out_col}__{f}" for f in TOKENS.wide]
    kernel, schema = _frame_kernel(
        blocks, out_names,
        lambda b: {t: rewrite_column(TOKENS, *payload_cols(b, f"{c}__"), fn) for c, t, fn in plans},
    )
    return blocks.mapInArrow(kernel, schema)


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
    from rle_array_spark.codecs.zip_ops import mask_blocks

    enc_cols = _enc_cols(blocks)
    if mask_col not in enc_cols:
        raise ValueError(f"mask column {mask_col!r} not in frame ({enc_cols})")
    out_cols = [c for c in enc_cols if c != mask_col or not drop_mask]
    dropped = {f"{mask_col}__{f}" for f in TOKENS.wide} if drop_mask else set()
    kernel, schema = _frame_kernel(
        blocks, [c for c in blocks.columns if c not in dropped],
        lambda b: {c: rewrite_column(TOKENS, *payload_cols(b, f"{c}__"), mask_blocks,
                                     other=payload_cols(b, f"{mask_col}__"),
                                     what=f"column {c!r} masked by {mask_col!r}") for c in out_cols},
    )
    return blocks.mapInArrow(kernel, schema)
