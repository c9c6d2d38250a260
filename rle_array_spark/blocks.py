"""The block-table format of each codec family, declared once as a
:class:`Family` (its columns, wide-frame fields and metadata rule), and the
operators every non-hot kernel is built from: one per-row loop
(:func:`rewrite_column`), one emitter, one join, one histogram, one decoder."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.reduce import payload_stats
from rle_array_spark.codecs.rle import reference_rle_nbytes
from rle_array_spark.codecs.strings import (
    decode_strings_arrow, string_payload_stats, string_value_bytes)
from rle_array_spark.codecs.typed import DTYPE_CODES, decode_typed, typed_payload_stats

_ARROW = {"string": pa.string(), "binary": pa.binary(), "int": pa.int32(),
          "long": pa.int64(), "double": pa.float64()}
_PAYLOAD = ("codec", "payload", "n_values")


class Family:
    """``ddl``: the blocks table's columns in order (Spark DDL, Arrow schema);
    ``wide``: a column's fields in a wide row (``<col>__<field>``); ``stats(
    codec, payload, n)``: the ``meta`` columns (all but the keys, the payload
    triple and ``carried``); ``values(rows)``: (codec, payload, n) rows
    decoded to one Arrow array; ``carried``: pass-through columns → default."""

    def __init__(self, kind: str, ddl: str, wide: str, stats, values, carried: dict | None = None):
        self.kind, self.stats, self.values, self.carried = kind, stats, values, carried or {}
        self.fields = tuple(tuple(f.split()) for f in ddl.split(", "))
        self.names = [n for n, _ in self.fields]
        self.wide = tuple(wide.split())
        skip = ("doc_id", "source", *_PAYLOAD, *self.carried)
        self.meta = tuple(n for n in self.names if n not in skip)
        self.arrow = pa.schema([(n, _ARROW[t]) for n, t in self.fields])

    def ddl(self, names=None, prefix: str = "") -> str:
        types = dict(self.fields)
        return ", ".join(f"{ident(prefix + n)} {types[n]}" for n in (names or self.names))


def ident(name: str) -> str:
    """``name`` as a Spark SQL identifier (backtick-quoted), for DDL and
    SQL text that carry a caller's column names."""
    return "`" + name.replace("`", "``") + "`"


def _token_stats(codec, payload, n, core=None):
    r, s, lo, hi = payload_stats(codec, payload, n) if core is None else core
    return r, s, lo, hi, 4 * n, len(payload), reference_rle_nbytes(int(r))


def _typed_stats(codec, payload, n):
    r, nulls, lo, hi, _ = typed_payload_stats(codec, payload, n)
    dt = DTYPE_CODES[payload[0]]
    nan = float("nan")
    return (str(dt), r, nulls, nan if lo is None else lo, nan if hi is None else hi,
            n * dt.itemsize, len(payload))


def _string_stats(codec, payload, n):
    # raw bytes as the encode path counts them: valid value bytes + offsets
    return (*string_payload_stats(codec, payload, n),
            string_value_bytes(codec, payload, n) + 4 * n, len(payload))


def _token_values(rows) -> pa.Array:
    parts = [np.zeros(0, np.int32), *(CODECS[c].decode(p, n) for c, p, n in rows)]
    return pa.array(np.concatenate(parts), type=pa.int32())


def _typed_values(rows) -> pa.Array:
    parts, masks = zip(*[decode_typed(*r) for r in rows]) if rows else ((), ())
    flat = np.concatenate(parts) if parts else np.zeros(0, dtype=np.float64)
    invalid = None if all(m is None for m in masks) else np.concatenate(
        [np.zeros(r[2], dtype=bool) if m is None else ~m for m, r in zip(masks, rows)])
    return pa.array(flat, mask=invalid)


def _string_values(rows) -> pa.Array:
    return pa.concat_arrays([pa.array([], pa.string()), *(decode_strings_arrow(*r) for r in rows)])


_KEYS = "doc_id string, source string, "
_CODEC = "codec string, payload binary, n_values int, "
TOKENS = Family(
    "int",
    _KEYS + _CODEC + "n_runs int, tok_sum long, tok_min int, tok_max int, raw_bytes long, "
    "encoded_bytes long, ref_rle_bytes long, chunk_idx int, n_chunks int, chunk_offset long",
    "codec payload n_values n_runs tok_sum tok_min tok_max encoded_bytes",
    _token_stats,
    _token_values,
    {"chunk_idx": 0, "n_chunks": 1, "chunk_offset": 0},
)
TYPED = Family(
    "typed",
    _KEYS + "vtype string, " + _CODEC + "n_runs int, null_count int, val_min double, "
    "val_max double, raw_bytes long, encoded_bytes long",
    "codec payload n_values null_count encoded_bytes vtype",
    _typed_stats,
    _typed_values,
)
STRINGS = Family(
    "string",
    _KEYS + _CODEC + "n_runs int, null_count int, card int, val_min string, val_max string, "
    "raw_bytes long, encoded_bytes long",
    "codec payload n_values n_runs null_count card encoded_bytes",
    _string_stats,
    _string_values,
)
FAMILIES = {f.kind: f for f in (TOKENS, TYPED, STRINGS)}


def arrays(fam: Family, cols: dict, names) -> list:
    """``cols[name]`` per name as an Arrow array of the family's type."""
    return [cols[n] if isinstance(cols[n], pa.Array) else pa.array(cols[n], fam.arrow.field(n).type)
            for n in names]


def emit(fam: Family, cols: dict, names=None) -> pa.RecordBatch:
    """One blocks RecordBatch of ``names`` (all the family's fields by default)."""
    names = list(names or fam.names)
    return pa.RecordBatch.from_arrays(arrays(fam, cols, names), names=names)


def wide_arrays(fam: Family, cols: dict, prefix: str) -> tuple[list, list[str]]:
    """A column's wide-frame arrays and their ``<prefix>__<field>`` names."""
    return arrays(fam, cols, fam.wide), [f"{prefix}__{f}" for f in fam.wide]


def payload_cols(batch: pa.RecordBatch, prefix: str = "") -> list:
    """(codec, payload, n_values) columns of a batch, ``prefix``-named."""
    return [batch.column(prefix + f) for f in _PAYLOAD]


def carried(fam: Family, batch: pa.RecordBatch, names=None) -> list[pa.Array]:
    """The batch's columns ``names`` (the carried ones by default), a
    carried column the batch lacks defaulted to its ``fam.carried`` value."""
    have = batch.schema.names
    return [batch.column(n) if n in have
            else pa.array(np.full(batch.num_rows, fam.carried[n]), fam.arrow.field(n).type)
            for n in names or fam.carried]


def _rows(codecs, payloads, ns) -> list[tuple]:
    """(codec, payload view, n) per row of a payload column triple."""
    ns = ns.to_numpy(zero_copy_only=False)
    return [(c, memoryview(payloads[i].as_buffer()), int(ns[i]))
            for i, c in enumerate(codecs.to_pylist())]


def rewrite_column(fam: Family, codecs, payloads, ns, row_fn, other=None, what="a row") -> dict:
    """The per-row loop → {field: values} for the payload triple and ``fam.meta``.
    ``row_fn(codec, payload, [codec_b, payload_b,] n)`` (the bracket with ``other``,
    a second column, whose length mismatch names ``what``) returns (codec, payload),
    plus optionally the new n and the metadata core ``fam.stats`` would parse."""
    rows, stats, recs = _rows(codecs, payloads, ns), fam.stats, []
    for (c, p, n), o in zip(rows, _rows(*other) if other is not None else [()] * len(rows)):
        if o and o[2] != n:
            raise ValueError(f"length mismatch for {what}: {n} != {o[2]}")
        res = row_fn(c, p, *o[:2], n)
        n = int(res[2]) if len(res) > 2 else n
        recs.append((res[0], res[1], n, *stats(res[0], res[1], n, *res[3:])))
    fields = _PAYLOAD + fam.meta
    return dict(zip(fields, zip(*recs))) if recs else {f: () for f in fields}


def _plan(fam: Family, columns, resize: bool) -> tuple[list[str], list[str]]:
    """(output, carried input) columns; an op that may change a block's
    length drops ``chunk_offset`` for :func:`running_offsets`."""
    names = [n for n in fam.names if not (resize and n == "chunk_offset")]
    return names, [c for c in fam.carried if c in columns and c in names]


def _apply(fam: Family, df: DataFrame, names: list[str], loop) -> DataFrame:
    """``names`` blocks: ``loop(batch)``'s fields, the rest from :func:`carried`."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = loop(batch)
            rest = [n for n in names if n not in cols]
            cols.update(zip(rest, carried(fam, batch, rest)))
            yield emit(fam, cols, names)

    out = df.mapInArrow(kernel, fam.ddl(names))
    return out if len(names) == len(fam.names) else running_offsets(out)


def rewrite_blocks(blocks: DataFrame, fam: Family, row_fn, resize: bool = False) -> DataFrame:
    """Every payload through ``row_fn`` (:func:`rewrite_column`) in one
    shuffle-free pass; ``resize``: the op may change a block's length."""
    names, kept = _plan(fam, blocks.columns, resize)
    return _apply(fam, blocks.select("doc_id", "source", *_PAYLOAD, *kept), names,
                  lambda b: rewrite_column(fam, *payload_cols(b), row_fn))


def pair_blocks(a: DataFrame, b: DataFrame, fam: Family, on, row_op, resize=False, what="a row"):
    """``fam`` blocks keyed from ``a``: ``a`` joined to ``b`` on ``on``, each
    pair through ``row_op(codec_a, payload_a, codec_b, payload_b, n)``;
    ``what`` names the pair in a length-mismatch error."""
    names, kept = _plan(fam, a.columns, resize)
    left = a.select(*dict.fromkeys(["doc_id", "source", *on, *kept]),
                    *(F.col(f).alias(f"a__{f}") for f in _PAYLOAD))
    right = b.select(*on, *(F.col(f).alias(f"b__{f}") for f in _PAYLOAD))
    return _apply(fam, left.join(right, list(on), "inner"), names, lambda t: rewrite_column(
        fam, *payload_cols(t, "a__"), row_op, other=payload_cols(t, "b__"), what=what
    ))


def running_offsets(blocks: DataFrame) -> DataFrame:
    """``chunk_offset`` = the per-doc sum of the earlier chunks' ``n_values``."""
    w = Window.partitionBy("doc_id").orderBy("chunk_idx").rowsBetween(Window.unboundedPreceding, -1)
    return blocks.withColumn(
        "chunk_offset", F.coalesce(F.sum("n_values").over(w), F.lit(0)).cast("long")
    )


def value_counts_df(blocks: DataFrame, counts_fn, value_type: str) -> DataFrame:
    """(doc_id, value, count) histogram: ``counts_fn(codec, payload, n) ->
    (values, counts)`` per block in one shuffle-free pass, merged by a
    groupBy that shuffles only distinct values."""

    def kernel(batches):
        for batch in batches:
            docs = batch.column("doc_id").to_pylist()
            hists = [(d, *counts_fn(*r)) for d, r in zip(docs, _rows(*payload_cols(batch)))]
            hists = [h for h in hists if h[1].size]
            if hists:
                yield pa.RecordBatch.from_arrays([
                    pa.array([d for d, v, _ in hists for _ in range(v.size)], type=pa.string()),
                    pa.array(np.concatenate([v for _, v, _ in hists])),
                    pa.array(np.concatenate([k for _, _, k in hists]), type=pa.int64()),
                ], names=["doc_id", "value", "count"])

    partials = blocks.select("doc_id", *_PAYLOAD).mapInArrow(
        kernel, f"doc_id string, value {value_type}, count long"
    )
    return partials.groupBy("doc_id", "value").agg(F.sum("count").alias("count"))


def decode_lists(fam: Family, codecs, payloads, ns) -> pa.ListArray:
    """A payload column decoded to a list array (element nulls restored)."""
    rows = _rows(codecs, payloads, ns)
    offsets = np.concatenate(([0], np.cumsum([n for _, _, n in rows], dtype=np.int64)))
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), fam.values(rows))


def decode_df(blocks: DataFrame, cols: dict) -> DataFrame:
    """(doc_id, source, a list column per ``cols`` entry: output name →
    (family, Spark element type, input column prefix))."""
    need = ["doc_id", "source"] + [p + f for _, _, p in cols.values() for f in _PAYLOAD]
    schema = ", ".join(["doc_id string", "source string"]
                       + [f"{ident(c)} array<{t}>" for c, (_, t, _) in cols.items()])
    fams = [fam for fam, _, _ in cols.values()]
    k = len(_PAYLOAD)

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                yield pa.RecordBatch.from_arrays(
                    batch.columns[:2] + [decode_lists(fam, *batch.columns[2 + i * k:2 + (i + 1) * k])
                                         for i, fam in enumerate(fams)],
                    names=["doc_id", "source", *cols],
                )

    # The kernel reads the payload columns by position: PySpark's
    # mapInArrow looks every input column up by its unquoted name.
    picked = blocks.selectExpr(*[f"{ident(n)} AS _{i}" for i, n in enumerate(need)])
    return picked.mapInArrow(kernel, schema)
