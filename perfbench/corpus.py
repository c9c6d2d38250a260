"""Seeded benchmark inputs, one parquet corpus per (workload, seed, scale).

Every corpus is built from ``datagen.generate_block`` with block ids offset
by the seed (datagen's own ``SEED`` is fixed), written straight from Arrow
before any Spark session exists, and cached under the work directory so
that generation never enters a measurement. ``meta.json`` next to the
parquet files holds the exact input-side figures the benchmark checks the
product against: value counts, raw bytes and the token run count ``r``.

Next to the corpus, ``short.parquet`` holds the first block's token
streams cut into documents of 8-64 tokens, the input of the traced run's
short-document probe.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from rle_array_spark import datagen

# Block ids of seed s are s * BLOCK_STRIDE + b, so two seeds never share a
# block while b < BLOCK_STRIDE.
BLOCK_STRIDE = 1000

# name -> (blocks, rows per source) at scale 1: ~1.45 M regular tokens
# plus 0.3 M giant-sequence tokens for mixed-docs, ~0.9 M tokens x 3
# columns for multi-column.
SHAPES = {
    "mixed-docs": (4, 100),
    "multi-column": (4, 60),
}

# Workloads that keep one of datagen's ``giant`` rows in each of their
# first GIANT_BLOCKS blocks, cut to GIANT_TOKENS (datagen draws 100k-400k,
# which would make the corpus size, and so every rate, vary by seed). The
# writer chunks them (``chunk_tokens="auto"``) and the reader reassembles
# them. The table writer does not chunk, so multi-column keeps regular
# rows only.
WITH_GIANTS = ("mixed-docs",)
GIANT_BLOCKS = 2
GIANT_TOKENS = 150_000
SHORT_DOC_TOKENS = (8, 64)

# The value columns each workload encodes, with their Spark element types.
COLUMNS = {
    "mixed-docs": {"tokens": "int"},
    "multi-column": {"tokens": "int", "vals": "double", "tags": "string"},
}

TAGS = pa.array([f"t{i}" for i in range(5)])


def _rows(block_id: int, rows_per_source: int, giants: int) -> pa.Table:
    """The block's regular rows followed by its first ``giants`` giant
    rows, each cut to GIANT_TOKENS."""
    table = pa.Table.from_batches([datagen.generate_block(block_id, rows_per_source)])
    table = table.cast(datagen.ARROW_SCHEMA.with_metadata(None), safe=False)
    giant = pc.equal(table["source"], "giant")
    big = table.filter(giant).slice(0, giants)
    big = pa.table({
        "doc_id": big["doc_id"],
        "tokens": pc.list_slice(big["tokens"], 0, GIANT_TOKENS),
        "n_tok": pa.array([GIANT_TOKENS] * big.num_rows, pa.int32()),
        "source": big["source"],
    }).cast(table.schema)
    return pa.concat_tables([table.filter(pc.invert(giant)), big])


def _flat(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    tokens = table["tokens"].combine_chunks()
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.int32)
    return flat[offsets[0] : offsets[-1]], offsets - offsets[0]


def _with_value_columns(table: pa.Table) -> pa.Table:
    """Adds ``vals = tokens / 7.0`` (array<double>) and ``tags = 't' +
    tokens % 5`` (array<string>), sharing the token column's offsets."""
    flat, offsets = _flat(table)
    off = pa.array(offsets.astype(np.int32))
    vals = pa.ListArray.from_arrays(off, pa.array(flat.astype(np.float64) / 7.0))
    tags = pa.ListArray.from_arrays(off, TAGS.take(pa.array(flat % 5)))
    return table.append_column("vals", vals).append_column("tags", tags)


def block_table(workload: str, block_id: int, rows_per_source: int) -> pa.Table:
    giants = 1 if workload in WITH_GIANTS and block_id % BLOCK_STRIDE < GIANT_BLOCKS else 0
    table = _rows(block_id, rows_per_source, giants)
    return _with_value_columns(table) if workload == "multi-column" else table


def short_docs(table: pa.Table, seed: int) -> pa.Table:
    """The table's regular token streams, concatenated and cut into
    documents of 8-64 tokens (the last may be shorter); each keeps the
    source of its first token."""
    table = table.filter(pc.not_equal(table["source"], "giant"))
    flat, offsets = _flat(table)
    rng = np.random.default_rng((seed, 0x5D))
    lo, hi = SHORT_DOC_TOKENS
    lengths = rng.integers(lo, hi + 1, size=flat.size // lo + 1)
    cuts = np.concatenate(([0], np.cumsum(lengths)))
    cuts = cuts[cuts < flat.size]
    cuts = np.append(cuts, flat.size)
    n = cuts.size - 1
    doc_of_start = np.searchsorted(offsets, cuts[:-1], side="right") - 1
    return pa.table({
        "doc_id": pa.array([f"short-{seed}-{i:07d}" for i in range(n)]),
        "tokens": pa.ListArray.from_arrays(pa.array(cuts.astype(np.int32)), pa.array(flat)),
        "n_tok": pa.array(np.diff(cuts).astype(np.int32)),
        "source": table["source"].combine_chunks().take(pa.array(doc_of_start)),
    }).cast(datagen.ARROW_SCHEMA.with_metadata(None))


def _input_figures(table: pa.Table, columns: dict[str, str]) -> dict:
    flat, offsets = _flat(table)
    starts = offsets[:-1][offsets[1:] > offsets[:-1]]
    change = np.ones(flat.size, dtype=bool)
    if flat.size:
        np.not_equal(flat[1:], flat[:-1], out=change[1:])
        change[starts] = True
    raw = 4 * flat.size
    values = flat.size
    if "vals" in columns:
        raw += 8 * flat.size
        values += flat.size
    if "tags" in columns:
        tags = table["tags"].combine_chunks().values
        raw += int(pc.sum(pc.binary_length(tags)).as_py() or 0) + 4 * len(tags)
        values += len(tags)
    return {
        "docs": table.num_rows,
        "tokens": int(flat.size),
        "values": int(values),
        "raw_bytes": int(raw),
        "token_runs": int(change.sum()),
    }


def ensure(workload: str, seed: int, scale: float, work_dir: str) -> tuple[str, dict]:
    """Build (or reuse) the corpus; returns (corpus dir, meta). The short
    documents are ``short.parquet`` in the corpus dir's parent."""
    n_blocks, rows = SHAPES[workload]
    rows = max(2, int(round(rows * scale)))
    key = f"{workload}-s{seed}-r{rows}"
    root = os.path.join(work_dir, "corpus", key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return os.path.join(root, "data"), json.load(f)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    totals = {"docs": 0, "tokens": 0, "values": 0, "raw_bytes": 0, "token_runs": 0}
    for b in range(n_blocks):
        block_id = seed * BLOCK_STRIDE + b
        table = block_table(workload, block_id, rows)
        for k, v in _input_figures(table, COLUMNS[workload]).items():
            totals[k] += v
        pq.write_table(table, os.path.join(tmp, "data", f"part-{b:03d}.parquet"))
        if b == 0:
            short = short_docs(table, seed)
            pq.write_table(short, os.path.join(tmp, "short.parquet"))
    meta = {"key": key, "workload": workload, "seed": seed, "rows_per_source": rows,
            "blocks": n_blocks, **totals,
            "short_docs": short.num_rows, "short_tokens": int(pc.sum(short["n_tok"]).as_py())}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return os.path.join(root, "data"), meta


def update_meta(work_dir: str, meta: dict, **fields) -> None:
    """Record figures learnt on a first run (input checksum, file digests
    per code version)."""
    meta.update(fields)
    path = os.path.join(work_dir, "corpus", meta["key"], "meta.json")
    with open(path + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(path + ".tmp", path)


def sample_rows(corpus_dir: str, per_source: int) -> pa.Table:
    """A fixed row sample for the driver-side probes: the first
    ``per_source`` rows of every regular source in the first corpus file
    (giant rows would make the single-thread probes slow)."""
    table = pq.read_table(os.path.join(corpus_dir, "part-000.parquet"))
    keep = []
    for src in sorted(set(table["source"].to_pylist()) - {"giant"}):
        idx = pc.indices_nonzero(pc.equal(table["source"], src)).to_numpy()
        keep.extend(idx[:per_source].tolist())
    return table.take(pa.array(sorted(keep)))
