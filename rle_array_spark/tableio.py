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
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rle_array_spark.chooser import DEFAULT_THRESHOLD
from rle_array_spark.engine import (
    _encode_batch,
    encode_df,
    pack_tokens_df,
    salted_partition_id,
    salted_repartition,
)

BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("codec", pa.string()),
        ("payload", pa.binary()),
        ("n_values", pa.int32()),
        ("n_runs", pa.int32()),
        ("tok_sum", pa.int64()),
        ("tok_min", pa.int32()),
        ("tok_max", pa.int32()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("ref_rle_bytes", pa.int64()),
        ("chunk_idx", pa.int32()),
        ("n_chunks", pa.int32()),
        ("chunk_offset", pa.int64()),
    ]
)

LINEAGE_SCHEMA = (
    "part_id int, status string, fingerprint string, n_rows long, n_tokens long, "
    "raw_bytes long, encoded_bytes long, ref_rle_bytes long, tok_sum long, "
    "codec_histogram string, wall_ms long"
)


def _params_hash(params_key: str) -> int:
    return int.from_bytes(hashlib.sha256(params_key.encode()).digest()[:16], "little")


def _row_hash(doc_id: str, chunk_idx: int, n: int, params_key: str) -> int:
    h = hashlib.sha256(f"{doc_id}:{chunk_idx}:{n}:{params_key}".encode()).digest()[:16]
    return int.from_bytes(h, "little")


def _fingerprint(
    doc_ids: list[str], n_toks: list[int], chunk_idxs: list[int], params_key: str
) -> str:
    """Order-insensitive fingerprint of a partition's input rows + encode
    params (chunk_idx included so two equal-length chunks of one doc don't
    XOR-cancel; params included so a codec/threshold change produces new
    immutable files instead of silently reusing stale ones)."""
    acc = _params_hash(params_key)
    for d, n, c in zip(doc_ids, n_toks, chunk_idxs):
        acc ^= _row_hash(d, c, n, params_key)
    return f"{acc:032x}"


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


def _table_fingerprint(batches: list[pa.RecordBatch], params_key: str, n_value_cols: list[str]) -> str:
    """Table-writer partition fingerprint over rows in their sorted order:
    doc_id, the value count summed over ``n_value_cols``, and the row
    ordinal in the chunk slot (with a constant there, two rows with equal
    (doc_id, count) would XOR-cancel and adding or removing such a pair
    would reuse a stale data file)."""
    doc_ids: list[str] = []
    lengths: list[int] = []
    for b in batches:
        doc_ids.extend(b.column("doc_id").to_pylist())
        total = sum(b.column(c).to_numpy(zero_copy_only=False).astype("int64") for c in n_value_cols)
        lengths.extend(int(x) for x in total)
    return _fingerprint(doc_ids, lengths, list(range(len(doc_ids))), params_key)


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
    """Pick a chunk size from corpus shape (one metadata-only aggregate).

    Partition balance after the salted shuffle is a balls-into-bins
    problem: k chunks into P partitions has relative imbalance
    ~O(sqrt(P/k)), so we target >= AUTO_CHUNK_PER_PARTITION chunks per
    partition for the heavy tail (measured in scripts/soak_giant.py:
    1 Mi-token chunks left max/ideal at 7.6 on a giant-dominated corpus,
    256 Ki brought it to 2.8). Returns None when no row would ever split —
    keeps the fingerprint/params identity of plain unchunked runs."""
    row = df.agg(
        F.sum(F.col("n_tok").cast("long")).alias("total"),
        F.max("n_tok").alias("longest"),
    ).collect()[0]
    total, longest = int(row["total"] or 0), int(row["longest"] or 0)
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
    and costs one JVM aggregate over the row metadata: when the latest
    snapshot in ``out_dir`` was written with these parameters, every
    partition is fingerprinted from doc_id, token count and chunk index
    alone (:func:`_salted_fingerprints`), and if each one matches its
    committed record the run commits a new snapshot of those records (all
    ``skipped``) without encoding. Any other run — the first write, a rerun
    after a crashed first write, new parameters, a changed input — runs the
    full write below; its kernel skips the partitions already committed,
    after their rows were encoded and shuffled.

    ``chunk_tokens="auto"`` sizes chunks from the corpus shape (see
    :func:`auto_chunk_tokens`); the resolved value enters the params
    fingerprint, so auto-runs checkpoint/resume exactly like explicit ones
    as long as the corpus shape is unchanged.

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
    _prepare_dir(out_dir, commit_mode)
    if chunk_tokens == "auto":
        chunk_tokens = auto_chunk_tokens(df, num_partitions)
    params_key = (
        f"{codec}|{threshold}|{num_partitions}|{chunk_tokens}|ef={int(encode_first)}"
    )
    meta = {"codec": codec, "threshold": threshold,
            "num_partitions": num_partitions, "chunk_tokens": chunk_tokens}
    # the length column each path shuffles: encoded blocks carry n_values,
    # packed tokens n_tok (both the chunk's value count)
    length_field = "n_values" if encode_first else "n_tok"

    snap = _latest_snapshot_of(out_dir, params_key)
    if snap is not None:
        rows = _chunk_rows(df, chunk_tokens, length_field)
        fps = _salted_fingerprints(rows, length_field, num_partitions, params_key)
        hits = _committed_records(out_dir, fps, commit_mode, _BLOCK_STATS, params_key)
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
    """(doc_id, source, ``length_field``, chunk_idx): the rows the write path
    shuffles, from metadata alone — the value count is ``F.size(tokens)``
    and chunks follow :func:`pack_tokens_df` (n ≤ k → one chunk, else
    ⌈n/k⌉ chunks of k with the remainder last). Columns are int, as there."""
    n = F.size("tokens")
    if not chunk_tokens:
        return df.select("doc_id", "source", n.alias(length_field), F.lit(0).alias("chunk_idx"))
    k = F.lit(chunk_tokens)
    n_chunks = F.greatest(F.lit(1), F.ceil(n / k).cast("int"))
    return df.select(
        "doc_id", "source", n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        "doc_id", "source",
        F.least(k, F.col("n") - F.col("chunk_idx") * k).alias(length_field),
        "chunk_idx",
    )


def _salted_fingerprints(
    rows: DataFrame, length_field: str, num_partitions: int, params_key: str
) -> list[str]:
    """Each partition's fingerprint over :func:`_chunk_rows` ``rows`` as
    :func:`salted_repartition` would place them, in one JVM aggregate that
    moves no rows: the fingerprint is an XOR over :func:`_row_hash`, so the
    rows are grouped by their target partition id and XOR ``sha2`` of the
    same string, the 16 hash bytes as two 8-byte halves (``conv`` to base
    -10 reads 16 hex digits as a signed long; XOR is bytewise, so the byte
    order is fixed up once, here)."""
    row = F.concat_ws(
        ":", F.coalesce(F.col("doc_id"), F.lit("None")), F.col("chunk_idx").cast("string"),
        F.col(length_field).cast("string"), F.lit(params_key),
    )
    h = F.sha2(row, 256)
    parts = rows.groupBy(salted_partition_id(rows, num_partitions).alias("part_id")).agg(*[
        F.bit_xor(F.conv(F.substring(h, 1 + 16 * j, 16), 16, -10).cast("long")).alias(f"x{j}")
        for j in (0, 1)
    ])
    acc = [_params_hash(params_key)] * num_partitions
    for r in parts.collect():
        acc[r["part_id"]] ^= int.from_bytes(
            b"".join((r[f"x{j}"] & (2**64 - 1)).to_bytes(8, "big") for j in (0, 1)), "little"
        )
    return [f"{x:032x}" for x in acc]


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


def _latest_snapshot_of(out_dir: str, params_key: str) -> dict | None:
    """The latest snapshot when it was written with ``params_key``, else
    None. A full hit reruns the committed configuration, so without one the
    metadata checks are skipped: a rerun after a crashed first write, or
    with new parameters, pays nothing for them."""
    try:
        snap = read_snapshot(out_dir)
    except FileNotFoundError:
        return None
    return snap if snap.get("params_key") == params_key else None


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
    write is thus always the newest snapshot's."""
    lineage_rows = sorted(lineage_rows, key=lambda r: r["part_id"])
    files = []
    for r in lineage_rows:
        path = _data_path(out_dir, r["part_id"], r["fingerprint"])
        if r["n_rows"] > 0 or os.path.exists(path):  # an empty table-writer partition has none
            files.append(os.path.basename(path))
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
    import pyarrow.compute as pc

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
    from rle_array_spark.engine import BLOCK_SCHEMA

    snap = read_snapshot(out_dir, snapshot)
    files = [os.path.join(out_dir, "blocks", f) for f in snap["files"]]
    return spark.read.schema(BLOCK_SCHEMA).parquet(*files)


def read_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        return json.load(f)


def vacuum(out_dir: str, keep_snapshots: int | None = None) -> list[str]:
    """Delete data files referenced by no (kept) snapshot; optionally expire
    all but the newest ``keep_snapshots`` manifests. Returns deleted paths."""
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
    :func:`encode_to_dir`, including the metadata-only full-hit check
    (here the doc_id rows go through the same hash repartition and sort,
    because the fingerprint numbers rows in sorted order).

    Encode-first by construction: columns are encoded at scan parallelism
    and the shuffle moves encoded wide rows (binary payloads), keyed by a
    deterministic hash repartition on doc_id. Frame rows are assumed
    bounded (no chunking — chunk upstream or use the single-column path
    for giant-sequence corpora). Lineage totals aggregate across all
    encoded columns (values and encoded bytes; the raw-side totals stay 0).
    An empty partition writes no file."""
    from rle_array_spark.tableframe import encode_table_df, table_schema

    _prepare_dir(out_dir, commit_mode)
    wide_ddl, kinds = table_schema(df, cols)
    params_key = (
        f"table|{codec}|{num_partitions}|{','.join(f'{c}:{kinds[c]}' for c in cols)}"
    )
    meta = {"codec": codec, "table_cols": {c: kinds[c] for c in cols},
            "table_schema": wide_ddl, "num_partitions": num_partitions}
    n_value_cols = [f"{c}__n_values" for c in cols]
    stats = {"codec": [f"{c}__codec" for c in cols], "n_tokens": n_value_cols,
             "encoded_bytes": [f"{c}__encoded_bytes" for c in cols]}

    snap = _latest_snapshot_of(out_dir, params_key)
    if snap is not None:
        sizes = df.select("doc_id", *[F.size(c).alias(n) for c, n in zip(cols, n_value_cols)])
        if _totals_match(snap, sizes, n_value_cols):
            fps = _doc_fingerprints(sizes, n_value_cols, num_partitions, params_key)
            hits = _committed_records(out_dir, fps, commit_mode, stats, params_key)
            if hits is not None:
                return _commit_snapshot(out_dir, meta, params_key, hits)

    def build(in_batches: list[pa.RecordBatch]) -> pa.Table | None:
        if not in_batches:
            return None
        return pa.Table.from_batches(in_batches).sort_by([("doc_id", "ascending")])

    kernel = _write_kernel(
        out_dir, commit_mode, fail_at_partition,
        lambda batches: _table_fingerprint(batches, params_key, n_value_cols), stats, build,
    )
    parted = _by_doc(encode_table_df(df, cols, codec=codec), num_partitions)
    lineage_rows = [r.asDict() for r in parted.mapInArrow(kernel, LINEAGE_SCHEMA).collect()]
    return _commit_snapshot(out_dir, meta, params_key, lineage_rows)


def _by_doc(rows: DataFrame, num_partitions: int) -> DataFrame:
    return rows.repartition(num_partitions, "doc_id").sortWithinPartitions("doc_id")


def _totals_match(snap: dict, sizes: DataFrame, n_value_cols: list[str]) -> bool:
    """Whether the input has the snapshot's row and value totals, observed
    on a no-op write (one scan stage in the JVM, no shuffle, no Python
    worker): the table writer's check before its fingerprint pass, which
    needs a shuffle because its row hashes number rows in sorted order."""
    obs = Observation()
    sizes.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.sum(sum(F.col(c).cast("long") for c in n_value_cols)).alias("values"),
    ).write.format("noop").mode("overwrite").save()
    parts = snap["partitions"]
    return (obs.get["rows"], obs.get["values"] or 0) == (
        sum(r["n_rows"] for r in parts), sum(r["n_tokens"] for r in parts))


def _doc_fingerprints(
    sizes: DataFrame, n_value_cols: list[str], num_partitions: int, params_key: str
) -> list[str]:
    """Each partition's table-writer fingerprint from the (doc_id,
    ``n_value_cols``) ``sizes`` rows, routed like the encoded rows: the
    fingerprint numbers rows in their sorted order, so it needs the same
    shuffle and sort."""

    def kernel(batches):
        fp = _table_fingerprint([b for b in batches if b.num_rows], params_key, n_value_cols)
        yield pa.RecordBatch.from_pydict(
            {"part_id": [TaskContext.get().partitionId()], "fingerprint": [fp]},
            schema=pa.schema([("part_id", pa.int32()), ("fingerprint", pa.string())]),
        )

    fps = [_fingerprint([], [], [], params_key)] * num_partitions
    rows = _by_doc(sizes, num_partitions)
    for r in rows.mapInArrow(kernel, "part_id int, fingerprint string").collect():
        fps[r["part_id"]] = r["fingerprint"]
    return fps


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
