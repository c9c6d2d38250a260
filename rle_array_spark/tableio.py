"""Encoded-table writer: immutable data files, snapshot manifests, lineage,
checkpointed resume, time travel, vacuum.

Sandbox layout (Parquet files + JSON manifests) with Iceberg's semantics —
on a cluster with an Iceberg catalog this module is the only seam to swap
(SURVEY.md §7.6):

- **Immutable data files** named ``part-{pid}-{fingerprint16}.parquet``
  where the fingerprint covers the partition's input rows AND the encode
  parameters — changing codec/threshold/chunking produces new files and
  never rewrites old ones. Only row metadata enters the fingerprint:
  doc_id, value count and chunk index, never the values;
- **Snapshot manifests** ``snapshots/v{N}.json`` list the exact data files
  of a committed version; ``_manifest.json`` is the atomic latest pointer.
  Readers only ever see complete snapshots (a crashed job leaves data files
  but no snapshot — invisible). A committer owns version N by creating
  ``snapshots/v{N}.claim`` exclusively (``O_EXCL``) and renames the
  snapshot into place, so concurrent committers take distinct versions and
  the pointer ends on the newest;
- **Checkpointed resume** (north_rule): each partition commits atomically
  (tmp → rename) with a lineage sidecar. A rerun of the configuration the
  latest snapshot was written with first fingerprints every partition
  from row metadata alone — no encode, no payload shuffle — and checks
  each against its committed record (:func:`committed_record`). When
  every partition hits, the rerun commits a new snapshot from those
  records and stops. Otherwise the full write runs: rows are encoded and shuffled, and
  the write kernel skips each partition already committed (the encode of
  those rows is spent). Partition contents are deterministic (salted hash
  repartition + doc_id/chunk sort), so reruns are byte-identical;
- **Time travel**: ``read_blocks(spark, dir, snapshot=N)``;
- **Vacuum**: delete data files referenced by no snapshot.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rle_array_spark.blocks import TOKENS, ident
from rle_array_spark.chooser import DEFAULT_THRESHOLD
from rle_array_spark.engine import (
    _encode_batch,
    check_encode_args,
    encode_df,
    pack_tokens_df,
    salted_partition_id,
    salted_repartition,
)

BLOCKS_ARROW_SCHEMA = TOKENS.arrow

LINEAGE_SCHEMA = (
    "part_id int, status string, fingerprint string, n_rows long, n_tokens long, "
    "raw_bytes long, encoded_bytes long, ref_rle_bytes long, tok_sum long, "
    "codec_histogram string, wall_ms long"
)


def _params_hash(params_key: str) -> int:
    return int.from_bytes(hashlib.sha256(params_key.encode()).digest()[:16], "little")


def _row_hash(doc_id: str, chunk_idx: int, n: int, params_key: str) -> int:
    h = hashlib.sha256(f"{doc_id}:{chunk_idx}:{n}:{params_key}".encode()).digest()[:16]
    return int.from_bytes(h, "big")


def _fingerprint(
    doc_ids: list[str], n_toks: list[int], chunk_idxs: list[int], params_key: str
) -> str:
    """Order-insensitive fingerprint of a partition's input rows + encode
    params: the sum of the row hashes mod 2^128, so a repeated row counts
    once per copy instead of cancelling like an XOR would (chunk_idx
    separates the chunks of one doc; params are included so a
    codec/threshold change produces new immutable files instead of
    silently reusing stale ones)."""
    acc = _params_hash(params_key)
    for d, n, c in zip(doc_ids, n_toks, chunk_idxs):
        acc += _row_hash(d, c, n, params_key)
    return f"{acc % 2**128:032x}"


def _block_fingerprint(batches: list[pa.RecordBatch], params_key: str, length_field: str) -> str:
    """Token-writer partition fingerprint: (doc_id, ``length_field``,
    chunk_idx) of every row."""
    doc_ids: list[str] = []
    lengths: list[int] = []
    chunk_idxs: list[int] = []
    for b in batches:
        doc_ids.extend(b.column("doc_id").to_pylist())
        lengths.extend(b.column(length_field).to_pylist())
        chunk_idxs.extend(b.column("chunk_idx").to_pylist())
    return _fingerprint(doc_ids, lengths, chunk_idxs, params_key)


def _table_fingerprint(batches: list[pa.RecordBatch], params_key: str, n_value_cols: list) -> str:
    """Table-writer partition fingerprint: doc_id (the first column) and
    the value count summed over ``n_value_cols`` (names or positions; a
    null array counts 0), with chunk slot 0 (wide rows are not chunked)."""
    doc_ids: list[str] = []
    lengths: list[int] = []
    for b in batches:
        doc_ids.extend(b.column(0).to_pylist())
        total = sum(
            pc.fill_null(b.column(c), 0).to_numpy(zero_copy_only=False).astype("int64")
            for c in n_value_cols
        )
        lengths.extend(int(x) for x in total)
    return _fingerprint(doc_ids, lengths, [0] * len(doc_ids), params_key)


# Lineage totals a writer's data file can carry; a writer's ``stats`` maps
# each (and "codec", for the histogram) to the columns that hold it.
_TOTALS = ("n_tokens", "raw_bytes", "encoded_bytes", "ref_rle_bytes", "tok_sum")
_BLOCK_STATS = {
    "codec": ["codec"], "n_tokens": ["n_values"], "raw_bytes": ["raw_bytes"],
    "encoded_bytes": ["encoded_bytes"], "ref_rle_bytes": ["ref_rle_bytes"], "tok_sum": ["tok_sum"],
}


def _data_path(out_dir: str, part_id: int, fp: str) -> str:
    return os.path.join(out_dir, "blocks", f"part-{part_id:05d}-{fp[:16]}.parquet")


def _lineage_path(out_dir: str, part_id: int, fp: str) -> str:
    return os.path.join(out_dir, "lineage", f"part-{part_id:05d}-{fp[:16]}.json")


class InjectedFailure(RuntimeError):
    """Raised by the fail-injection hook in resume tests."""


AUTO_CHUNK_MIN = 1 << 16
AUTO_CHUNK_MAX = 1 << 20
AUTO_CHUNK_PER_PARTITION = 8


def auto_chunk_tokens(df: DataFrame, num_partitions: int) -> int | None:
    """Pick a chunk size from corpus shape (one metadata-only aggregate over
    the stored ``n_tok`` column; see :func:`_auto_chunk_size`)."""
    row = df.selectExpr("sum(CAST(n_tok AS BIGINT)) AS total", "max(n_tok) AS longest").collect()[0]
    return _auto_chunk_size(row["total"], row["longest"], num_partitions)


def _auto_chunk_size(total: int | None, longest: int | None, num_partitions: int) -> int | None:
    """The chunk size for a corpus of ``total`` tokens whose longest row
    has ``longest``.

    Partition balance after the salted shuffle is a balls-into-bins
    problem: k chunks into P partitions has relative imbalance
    ~O(sqrt(P/k)), so we target >= AUTO_CHUNK_PER_PARTITION chunks per
    partition for the heavy tail (measured in scripts/soak_giant.py:
    1 Mi-token chunks left max/ideal at 7.6 on a giant-dominated corpus,
    256 Ki brought it to 2.8). Returns None when no row would ever split —
    keeps the fingerprint/params identity of plain unchunked runs."""
    total, longest = int(total or 0), int(longest or 0)
    chunk = int(
        min(AUTO_CHUNK_MAX,
            max(AUTO_CHUNK_MIN, total // (AUTO_CHUNK_PER_PARTITION * num_partitions)))
    )
    return chunk if longest > chunk else None


def encode_to_dir(
    df: DataFrame,
    out_dir: str,
    codec: str = "auto",
    threshold: float = DEFAULT_THRESHOLD,
    num_partitions: int = 32,
    fail_at_partition: int | None = None,
    chunk_tokens: int | str | None = None,
    encode_first: bool = True,
    commit_mode: str = "sidecar",
) -> list[dict]:
    """Encode a sequences DataFrame into ``out_dir`` (one immutable parquet
    file + lineage sidecar per partition), commit a new snapshot, and return
    the lineage records. Safe to re-run after a failure.

    Re-running an already-committed configuration is a full checkpoint hit
    and costs one SQL execution, a JVM aggregate over the row metadata
    with no Python task: when the latest snapshot in ``out_dir`` was
    written with these parameters, every partition is fingerprinted from
    doc_id, token count and chunk index alone
    (:func:`_salted_fingerprints`), and if each one matches its committed
    record the run commits a new snapshot of those records (all
    ``skipped``) without encoding. Any other run — the first write, a rerun
    after a crashed first write, new parameters, a changed input — runs the
    full write below; its kernel skips the partitions already committed,
    after their rows were encoded and shuffled.

    ``chunk_tokens="auto"`` sizes chunks from the corpus shape (see
    :func:`auto_chunk_tokens`); the resolved value enters the params
    fingerprint, so auto-runs checkpoint/resume exactly like explicit ones
    as long as the corpus shape is unchanged. A rerun whose latest
    snapshot was written with the size it recorded sizes its chunks in the
    fingerprint aggregate itself, from the same stored ``n_tok`` column:
    when the size is unchanged it checks the hits, otherwise it writes
    with the new size; neither runs a separate sizing job.

    ``encode_first=True`` (default) encodes at scan parallelism and
    shuffles the ENCODED blocks into deterministic partitions — the
    shuffle moves ~2.5× fewer bytes (compressed payloads vs raw tokens)
    and the encode runs on the no-shuffle fast path. Set False to shuffle
    raw (packed) tokens BEFORE encoding — the defense when the INPUT
    layout itself is pathological (e.g. one unsplittable parquet row group
    holding a giant sequence would otherwise pin its whole encode on one
    scan task; chunking splits it only after the scan).

    ``commit_mode`` selects the resume protocol:

    - ``"sidecar"`` (default): each partition writes a lineage JSON sidecar
      via tmp-file + ``os.replace`` — assumes a shared filesystem with
      atomic rename (local, NFS, HDFS).
    - ``"manifest"``: NO executor-side sidecars. The data file itself is the
      checkpoint: its name embeds the partition fingerprint, its bytes are
      deterministic, and the skip-check is existence + a validating
      metadata-columns read (a torn file from a mid-write crash fails the
      read and is re-encoded). This is the object-store-safe protocol —
      on S3-class storage a PUT is atomic per object and rename doesn't
      exist, so per-partition rename-committed sidecars can't work; all
      lineage then lives only in the driver-committed snapshot manifest,
      exactly like Iceberg's metadata layer (the seam SURVEY.md §7.6
      names). Both modes produce byte-identical data files and can resume
      each other's partial runs (sidecar-mode reruns re-encode
      manifest-written partitions at worst — never corrupt them)."""
    check_encode_args(codec, chunk_tokens, num_partitions, auto_chunks=True)
    _prepare_dir(out_dir, commit_mode)

    def key(k: int | None) -> str:
        return f"{codec}|{threshold}|{num_partitions}|{k}|ef={int(encode_first)}"

    # the length column each path shuffles: encoded blocks carry n_values,
    # packed tokens n_tok (both the chunk's value count)
    length_field = "n_values" if encode_first else "n_tok"
    auto = chunk_tokens == "auto"
    snap = _latest_snapshot(out_dir)
    # the chunk size a full hit would have: an auto run's is the one the
    # latest snapshot recorded, confirmed below from the same aggregate
    k = snap.get("chunk_tokens") if auto and snap else chunk_tokens
    hits = None
    if snap is not None and snap.get("params_key") == key(k):
        rows = _chunk_rows(df, k, length_field)
        fps, sizes = _salted_fingerprints(
            rows, salted_partition_id(rows, num_partitions), length_field, num_partitions,
            key(k), *(_sizing_aggs() if auto else ()),
        )
        if auto:
            chunk_tokens = _auto_chunk_size(
                sum(r["total"] or 0 for r in sizes),
                max((r["longest"] or 0 for r in sizes), default=0), num_partitions,
            )
        if chunk_tokens == k:
            hits = _committed_records(out_dir, fps, commit_mode, _BLOCK_STATS, key(k))
    elif auto:
        chunk_tokens = auto_chunk_tokens(df, num_partitions)
    params_key = key(chunk_tokens)
    meta = {"codec": codec, "threshold": threshold,
            "num_partitions": num_partitions, "chunk_tokens": chunk_tokens}
    if hits is not None:
        return _commit_snapshot(out_dir, meta, params_key, hits)

    src = df.select("doc_id", "tokens", "n_tok", "source")
    if encode_first:
        parted = salted_repartition(
            encode_df(src, codec=codec, threshold=threshold, chunk_tokens=chunk_tokens),
            num_partitions,
        )
    else:
        parted = salted_repartition(pack_tokens_df(src, chunk_tokens=chunk_tokens), num_partitions)

    def build(in_batches: list[pa.RecordBatch]) -> pa.Table:
        if not in_batches:
            table = BLOCKS_ARROW_SCHEMA.empty_table()
        elif encode_first:  # rows arrive already encoded — just assemble
            table = (
                pa.Table.from_batches(in_batches)
                .select(BLOCKS_ARROW_SCHEMA.names)
                .cast(BLOCKS_ARROW_SCHEMA)
            )
        else:
            table = pa.Table.from_batches(
                [_encode_batch(b, codec, threshold) for b in in_batches],
                schema=BLOCKS_ARROW_SCHEMA,
            )
        # Deterministic file bytes: sort by (doc_id, chunk_idx) so reruns
        # are byte-identical.
        return table.sort_by([("doc_id", "ascending"), ("chunk_idx", "ascending")])

    kernel = _write_kernel(
        out_dir, commit_mode, fail_at_partition,
        lambda batches: _block_fingerprint(batches, params_key, length_field), _BLOCK_STATS, build,
    )
    lineage_rows = [r.asDict() for r in parted.mapInArrow(kernel, LINEAGE_SCHEMA).collect()]
    return _commit_snapshot(out_dir, meta, params_key, lineage_rows)


def _chunk_rows(df: DataFrame, chunk_tokens: int | None, length_field: str) -> DataFrame:
    """(doc_id, source, ``length_field``, chunk_idx, n_tok_stored): the rows
    the write path shuffles, from metadata alone — the value count is
    ``array_size(tokens)`` and chunks follow :func:`pack_tokens_df` (n ≤ k → one
    chunk, else ⌈n/k⌉ chunks of k with the remainder last). Columns are
    int, as there. A null array counts 0 values, as the encode reads it
    (``array_size`` of null is null whatever the ANSI setting, where
    ``size`` may give null or -1). ``n_tok_stored`` carries the input's
    ``n_tok`` column for chunk sizing (:func:`_sizing_aggs`); it never
    enters a fingerprint.

    This plan and the fingerprint aggregate are SQL text: one parse per
    expression, where the Column builders cost a py4j round trip per
    node."""
    n = "coalesce(array_size(tokens), 0)"
    if not chunk_tokens:
        return df.selectExpr(
            "doc_id", "source", f"{n} AS {length_field}", "0 AS chunk_idx", "n_tok AS n_tok_stored"
        )
    k = int(chunk_tokens)
    return df.selectExpr(
        "doc_id", "source", f"{n} AS n", "n_tok AS n_tok_stored",
        f"explode(sequence(0, greatest(1, CAST(ceil({n} / {k}) AS INT)) - 1)) AS chunk_idx",
    ).selectExpr(
        "doc_id", "source", f"least({k}, n - chunk_idx * {k}) AS {length_field}",
        "chunk_idx", "n_tok_stored",
    )


def _sizing_aggs() -> tuple[Column, Column]:
    """:func:`auto_chunk_tokens`'s figures over :func:`_chunk_rows` rows,
    per group: the stored ``n_tok`` summed over documents (each counted on
    its first chunk) and its maximum."""
    return (
        F.expr("sum(CASE WHEN chunk_idx = 0 THEN CAST(n_tok_stored AS BIGINT) END) AS total"),
        F.expr("max(n_tok_stored) AS longest"),
    )


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string expression. Hex-encoded, so no
    character of ``s`` (a quote, a backslash, a column name of the table
    writer's params key) nor the parser's escape setting can change it."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _salted_fingerprints(
    rows: DataFrame, part_id: Column, length_field: str, num_partitions: int, params_key: str,
    *aggs: Column,
) -> tuple[list[str], list]:
    """Each partition's fingerprint over (doc_id, ``length_field``,
    chunk_idx) ``rows``, where the column ``part_id`` is the partition the
    writer's repartition sends a row to, in one JVM aggregate that moves no
    rows: the fingerprint is a sum of :func:`_row_hash` mod 2^128, so the
    rows are grouped by partition id and sum ``sha2`` of the same string,
    its first 32 hex digits as two unsigned 64-bit halves (``conv`` to
    decimal digits, summed as ``decimal(20, 0)``: the ``decimal(30, 0)``
    sum cannot overflow under ANSI mode below 10^10 rows, and costs less
    than four 32-bit long lanes). The halves are carried into one 128-bit
    sum once, here. ``aggs`` ride along in the same aggregate; their
    per-group rows are returned next to the fingerprints."""
    h = (
        "sha2(concat_ws(':', coalesce(doc_id, 'None'), CAST(chunk_idx AS STRING), "
        f"CAST({length_field} AS STRING), {_sql_string(params_key)}), 256)"
    )
    parts = rows.groupBy(part_id.alias("part_id")).agg(*[
        F.expr(f"sum(CAST(conv(substring({h}, {1 + 16 * j}, 16), 16, 10) AS DECIMAL(20,0)))"
               f" AS x{j}")
        for j in (0, 1)
    ], *aggs).collect()
    acc = [_params_hash(params_key)] * num_partitions
    for r in parts:
        acc[r["part_id"]] += (int(r["x0"]) << 64) + int(r["x1"])
    return [f"{x % 2**128:032x}" for x in acc], parts


def _write_kernel(out_dir, commit_mode, fail_at_partition, fingerprint, stats, build):
    """The mapInArrow body both writers share: ``fingerprint`` the
    partition, return its committed record on a hit, else ``build`` the
    data table (None: nothing to write) and commit it. ``stats`` names the
    writer's lineage columns (see :data:`_BLOCK_STATS`)."""

    def kernel(batches):
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        t0 = time.monotonic()
        in_batches = [b for b in batches if b.num_rows]
        fp = fingerprint(in_batches)
        rec = committed_record(out_dir, part_id, fp, commit_mode, stats, empty=not in_batches)
        if rec is not None:
            yield _lineage_batch(rec)  # checkpoint hit: no re-encode
            return
        if part_id == fail_at_partition:
            raise InjectedFailure(f"injected failure at partition {part_id}")
        table = build(in_batches)
        if table is None:
            yield _lineage_batch(_lineage_record(pa.table({}), part_id, fp, "encoded", stats, t0))
            return
        data_path = _data_path(out_dir, part_id, fp)
        tmp_path = data_path + f".tmp-{os.getpid()}"
        pq.write_table(table, tmp_path)
        os.replace(tmp_path, data_path)
        rec = _lineage_record(table, part_id, fp, "encoded", stats, t0)
        if commit_mode == "sidecar":
            _write_json(_lineage_path(out_dir, part_id, fp), rec)
        yield _lineage_batch(rec)

    return kernel


def committed_record(
    out_dir: str, part_id: int, fp: str, commit_mode: str, stats: dict, empty: bool = False
) -> dict | None:
    """The committed lineage record of partition ``part_id`` at fingerprint
    ``fp``, with status ``skipped``, or None when it must be encoded.

    Sidecar mode trusts a sidecar next to its data file; manifest mode
    rebuilds the record from the data file's ``stats`` columns. Either way
    an ``empty`` partition that wrote no file (the table writer's) is a hit
    when the latest snapshot recorded it with this fingerprint."""
    data_path = _data_path(out_dir, part_id, fp)
    if commit_mode == "sidecar":
        lineage_path = _lineage_path(out_dir, part_id, fp)
        if os.path.exists(lineage_path) and os.path.exists(data_path):
            with open(lineage_path) as f:
                rec = json.load(f)
            if rec.get("fingerprint") == fp:
                return {**rec, "status": "skipped"}
    else:  # manifest mode: the self-certifying data file IS the checkpoint
        rec = _stats_from_data_file(data_path, part_id, fp, stats)
        if rec is not None:
            return rec
    if not empty:
        return None
    try:
        latest = read_manifest(out_dir)["partitions"]
    except FileNotFoundError:
        return None
    for rec in latest:
        if rec["part_id"] == part_id and rec["fingerprint"] == fp:
            return {**rec, "status": "skipped"}
    return None


def _committed_records(
    out_dir: str, fingerprints: list[str], commit_mode: str, stats: dict, params_key: str
) -> list[dict] | None:
    """Every partition's committed record, or None at the first miss."""
    empty_fp = _fingerprint([], [], [], params_key)
    recs = []
    for part_id, fp in enumerate(fingerprints):
        rec = committed_record(out_dir, part_id, fp, commit_mode, stats, empty=fp == empty_fp)
        if rec is None:
            return None
        recs.append(rec)
    return recs


def _prepare_dir(out_dir: str, commit_mode: str) -> None:
    if commit_mode not in ("sidecar", "manifest"):
        raise ValueError(f"commit_mode must be 'sidecar' or 'manifest', got {commit_mode!r}")
    for sub in ("blocks", "lineage", "snapshots"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)


def _latest_snapshot(out_dir: str) -> dict | None:
    """The latest snapshot, or None when nothing is committed. A full hit
    reruns the committed configuration, so a writer runs its metadata check
    only when this snapshot has the run's ``params_key``: a rerun after a
    crashed first write, or with new parameters, pays nothing for it."""
    try:
        return read_snapshot(out_dir)
    except FileNotFoundError:
        return None


def _write_json(path: str, obj, indent: int | None = None) -> None:
    """Replace ``path`` with ``obj`` through a tmp file private to this
    process and thread, so readers never see a partial file."""
    tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=indent)
    os.replace(tmp, path)


def _claim(path: str) -> bool:
    """Create ``path`` empty if absent (O_EXCL); False when it exists."""
    try:
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        return True
    except FileExistsError:
        return False


def _latest_version(out_dir: str) -> int:
    paths = glob.glob(os.path.join(out_dir, "snapshots", "v*.json"))
    return max((int(os.path.basename(p)[1:-5]) for p in paths), default=0)


def _commit_snapshot(out_dir: str, meta: dict, params_key: str, lineage_rows: list[dict]) -> list[dict]:
    """Commit ``lineage_rows`` as the next snapshot, then point
    ``_manifest.json`` at the newest one. Returns the rows by part_id.

    A committer owns version N once it creates ``v{N}.claim`` exclusively;
    one that loses the race for N tries N+1, so concurrent commits never
    overwrite each other. The snapshot then replaces into ``v{N}.json``
    (rename only — no hard links, which fuse mounts of HDFS or object
    stores lack). Each committer re-checks the newest version after
    replacing the pointer and repeats until they agree; the last pointer
    write is thus always the newest snapshot's.

    Every data file the snapshot names is checked before a version is
    claimed: one that a ``vacuum`` deleted while this writer ran raises
    ``FileNotFoundError`` instead of committing a snapshot no reader can
    read."""
    lineage_rows = sorted(lineage_rows, key=lambda r: r["part_id"])
    files = []
    for r in lineage_rows:
        path = _data_path(out_dir, r["part_id"], r["fingerprint"])
        if os.path.exists(path):
            files.append(os.path.basename(path))
        elif r["n_rows"] > 0:  # an empty table-writer partition has no file
            raise FileNotFoundError(
                f"partition {r['part_id']}: data file {path} is gone (vacuumed while "
                "this write ran?); no snapshot committed"
            )
    snapshots = os.path.join(out_dir, "snapshots")
    version = 1 + _latest_version(out_dir)
    while not _claim(os.path.join(snapshots, f"v{version}.claim")):
        version += 1
    snapshot = {
        "version": version,
        "parent": version - 1 or None,
        **meta,
        "params_key": params_key,
        "files": files,
        "partitions": lineage_rows,
    }
    _write_json(os.path.join(snapshots, f"v{version}.json"), snapshot, indent=1)
    while True:
        version = _latest_version(out_dir)
        snapshot = read_snapshot(out_dir, version)
        pointer = {"latest": version, **{
            k: v for k, v in snapshot.items() if k not in ("version", "parent", "params_key", "files")
        }}
        _write_json(os.path.join(out_dir, "_manifest.json"), pointer, indent=1)
        if _latest_version(out_dir) == version:
            return lineage_rows


def _lineage_record(table: pa.Table, part_id: int, fp: str, status: str, stats: dict,
                    t0: float | None = None) -> dict:
    """Lineage totals of a partition's data table, summed over the columns
    ``stats`` names (a total it does not name is 0); ``wall_ms`` since
    ``t0`` (0 when the record is rebuilt from a committed file)."""
    hist: dict[str, int] = {}
    for n in stats["codec"] if table.num_rows else ():
        for c in table.column(n).to_pylist():
            hist[c] = hist.get(c, 0) + 1
    return {
        "part_id": part_id,
        "status": status,
        "fingerprint": fp,
        "n_rows": table.num_rows,
        **{t: int(sum(_col_sum(table, n) for n in stats.get(t, ()))) for t in _TOTALS},
        "codec_histogram": json.dumps(hist, sort_keys=True),
        "wall_ms": 0 if t0 is None else int((time.monotonic() - t0) * 1000),
    }


def _stats_from_data_file(data_path: str, part_id: int, fp: str,
                          stats: dict = _BLOCK_STATS) -> dict | None:
    """Manifest-mode skip-check: rebuild the lineage record from a committed
    data file's ``stats`` columns (a bounded, partition-local read — never
    the payloads). Returns None when the file is absent or unreadable
    (torn mid-write crash on a filesystem without atomic rename) — the torn
    file is moved aside so the caller's re-encode rewrites it cleanly."""
    if not os.path.exists(data_path):
        return None
    try:
        t = pq.read_table(data_path, columns=[n for cols in stats.values() for n in cols])
    except pa.lib.ArrowInvalid:
        # Genuinely corrupt parquet (torn mid-write on a filesystem without
        # atomic rename): quarantine under .corrupt rather than delete, so
        # a file earlier snapshots reference is never destroyed outright;
        # the caller's re-encode rewrites via the tmp+replace path.
        os.replace(data_path, data_path + ".corrupt")
        return None
    except Exception:
        # Transient read error (EMFILE, interrupted read, permissions):
        # the file may be perfectly valid — leave it in place; re-encode
        # overwrites it atomically.
        return None
    return _lineage_record(t, part_id, fp, "skipped", stats)


def _col_sum(table: pa.Table, name: str) -> int:
    if table.num_rows == 0:
        return 0
    return pc.sum(table.column(name)).as_py() or 0


def _lineage_batch(rec: dict) -> pa.RecordBatch:
    return pa.RecordBatch.from_pylist(
        [rec],
        schema=pa.schema(
            [
                ("part_id", pa.int32()),
                ("status", pa.string()),
                ("fingerprint", pa.string()),
                ("n_rows", pa.int64()),
                ("n_tokens", pa.int64()),
                ("raw_bytes", pa.int64()),
                ("encoded_bytes", pa.int64()),
                ("ref_rle_bytes", pa.int64()),
                ("tok_sum", pa.int64()),
                ("codec_histogram", pa.string()),
                ("wall_ms", pa.int64()),
            ]
        ),
    )


def read_snapshot(out_dir: str, snapshot: int | None = None) -> dict:
    """Load a snapshot manifest (latest when ``snapshot`` is None)."""
    if snapshot is None:
        with open(os.path.join(out_dir, "_manifest.json")) as f:
            snapshot = json.load(f)["latest"]
    path = os.path.join(out_dir, "snapshots", f"v{snapshot}.json")
    with open(path) as f:
        return json.load(f)


def read_blocks(spark: SparkSession, out_dir: str, snapshot: int | None = None) -> DataFrame:
    """Read the encoded-blocks table at a snapshot (latest by default) —
    only the files that snapshot committed, never uncommitted stragglers."""
    snap = read_snapshot(out_dir, snapshot)
    files = [os.path.join(out_dir, "blocks", f) for f in snap["files"]]
    return spark.read.schema(TOKENS.ddl()).parquet(*files)


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        return json.load(f)


def vacuum(out_dir: str, keep_snapshots: int | None = None) -> list[str]:
    """Delete data files referenced by no (kept) snapshot; optionally expire
    all but the newest ``keep_snapshots`` (>= 1) manifests. Returns deleted
    paths."""
    if keep_snapshots is not None and keep_snapshots < 1:
        raise ValueError(f"keep_snapshots must be >= 1, got {keep_snapshots}")
    snaps = sorted(
        glob.glob(os.path.join(out_dir, "snapshots", "v*.json")),
        key=lambda p: int(os.path.basename(p)[1:-5]),
    )
    if keep_snapshots is not None and len(snaps) > keep_snapshots:
        for p in snaps[:-keep_snapshots]:
            os.remove(p)
            if os.path.exists(p[:-5] + ".claim"):
                os.remove(p[:-5] + ".claim")
        snaps = snaps[-keep_snapshots:]
    referenced: set[str] = set()
    for p in snaps:
        with open(p) as f:
            referenced.update(json.load(f)["files"])
    deleted = []
    for path in glob.glob(os.path.join(out_dir, "blocks", "*.parquet")):
        if os.path.basename(path) not in referenced:
            os.remove(path)
            deleted.append(path)
            sidecar = os.path.join(
                out_dir, "lineage", os.path.basename(path)[:-8] + ".json"
            )
            if os.path.exists(sidecar):
                os.remove(sidecar)
    return deleted


# ---------------------------------------------------------------------------
# Whole-table (mixed-dtype) checkpointed writer
# ---------------------------------------------------------------------------

def encode_table_to_dir(
    df,
    cols: list[str],
    out_dir: str,
    codec: str = "auto",
    num_partitions: int = 32,
    fail_at_partition: int | None = None,
    commit_mode: str = "sidecar",
) -> list[dict]:
    """Checkpointed writer for the mixed-dtype whole-table encode
    (tableframe.encode_table_df): every array column under its codec
    family, one wide row per input row, written as one immutable parquet
    file per partition with the same snapshot/lineage/resume discipline as
    :func:`encode_to_dir`, including the metadata-only full-hit check:
    one SQL execution with no Python task and no row shuffle, the same
    fingerprint aggregate as the token writer's over :func:`_table_rows`.

    Encode-first by construction: columns are encoded at scan parallelism
    and the shuffle moves encoded wide rows (binary payloads), keyed by a
    deterministic hash repartition on doc_id. Frame rows are assumed
    bounded (no chunking — chunk upstream or use the single-column path
    for giant-sequence corpora). Lineage totals aggregate across all
    encoded columns (values and encoded bytes; the raw-side totals stay 0).
    An empty partition writes no file."""
    from rle_array_spark.tableframe import TABLE_CODECS, encode_table_df, table_schema

    check_encode_args(codec, num_partitions=num_partitions, codecs=TABLE_CODECS)
    wide_ddl, kinds = table_schema(df, cols)  # raises on an unsupported column
    _prepare_dir(out_dir, commit_mode)
    params_key = (
        f"table|{codec}|{num_partitions}|{','.join(f'{c}:{kinds[c]}' for c in cols)}"
    )
    meta = {"codec": codec, "table_cols": {c: kinds[c] for c in cols},
            "table_schema": wide_ddl, "num_partitions": num_partitions}
    n_value_cols = [f"{c}__n_values" for c in cols]
    stats = {"codec": [f"{c}__codec" for c in cols], "n_tokens": n_value_cols,
             "encoded_bytes": [f"{c}__encoded_bytes" for c in cols]}

    snap = _latest_snapshot(out_dir)
    if snap is not None and snap.get("params_key") == params_key:
        rows = _table_rows(df, cols, num_partitions)
        fps, _ = _salted_fingerprints(rows, F.col("part_id"), "n", num_partitions, params_key)
        hits = _committed_records(out_dir, fps, commit_mode, stats, params_key)
        if hits is not None:
            return _commit_snapshot(out_dir, meta, params_key, hits)

    wide = encode_table_df(df, cols, codec=codec)
    names = wide.columns

    def build(in_batches: list[pa.RecordBatch]) -> pa.Table | None:
        if not in_batches:
            return None
        table = pa.Table.from_batches(in_batches).rename_columns(names)
        return table.sort_by([("doc_id", "ascending")])

    n_value_idx = [names.index(c) for c in n_value_cols]
    kernel = _write_kernel(
        out_dir, commit_mode, fail_at_partition,
        lambda batches: _table_fingerprint(batches, params_key, n_value_idx), stats, build,
    )
    # the kernel's input goes by position, as in tableframe._encode_wide
    parted = _by_doc(wide, num_partitions).toDF(*[f"_{i}" for i in range(len(names))])
    lineage_rows = [r.asDict() for r in parted.mapInArrow(kernel, LINEAGE_SCHEMA).collect()]
    return _commit_snapshot(out_dir, meta, params_key, lineage_rows)


def _by_doc(rows: DataFrame, num_partitions: int) -> DataFrame:
    # no JVM sort: the write kernel's ``build`` sorts each partition by
    # doc_id, and the partition fingerprint is a sum, blind to row order
    return rows.repartition(num_partitions, "doc_id")


def _table_rows(df: DataFrame, cols: list[str], num_partitions: int) -> DataFrame:
    """(part_id, doc_id, n, chunk_idx) per input row, as the table writer's
    kernel fingerprints it (:func:`_table_fingerprint`): ``part_id`` is the
    hash partitioner of :func:`_by_doc`, ``n`` the value count summed over
    ``cols`` (a null array counts 0) and ``chunk_idx`` 0."""
    n = " + ".join(f"CAST(coalesce(array_size({ident(c)}), 0) AS BIGINT)" for c in cols)
    return df.selectExpr(
        f"pmod(hash(doc_id), {num_partitions}) AS part_id", "doc_id", f"{n} AS n", "0 AS chunk_idx"
    )


def read_table_blocks(spark: SparkSession, out_dir: str, snapshot: int | None = None) -> DataFrame:
    """Read the wide encoded-table rows at a snapshot (latest by default).
    An all-empty snapshot (no data files) yields an empty DataFrame with
    the committed schema."""
    snap = read_snapshot(out_dir, snapshot)
    files = [os.path.join(out_dir, "blocks", f) for f in snap["files"]]
    ddl = snap.get("table_schema")
    if not files:
        return spark.createDataFrame([], ddl)
    reader = spark.read.schema(ddl) if ddl else spark.read
    return reader.parquet(*files)
