"""String-column encode/decode over Spark DataFrames.

Extends the typed family (typed.py) to variable-width utf8 — the
reference's object/str dtype with None
(/root/reference/rle_array/dtype.py:11-27) — as ``array<string>`` columns
in the same (doc_id, source, vals) shape. Same scale posture: one
mapInArrow kernel at scan parallelism, no shuffle, self-contained payloads,
zone-map metadata (cardinality, null_count, min/max value) per block.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from rle_array_spark.blocks import (
    STRINGS,
    TYPED,
    decode_df,
    emit,
    pair_blocks,
    rewrite_blocks,
    value_counts_df,
)
from rle_array_spark.codecs.strings import encode_string_block_stats

STRING_BLOCKS_SCHEMA = STRINGS.ddl()


def encode_string_rows(child: pa.Array, offsets: np.ndarray, codec: str) -> dict:
    """Encode every row of a flattened string child (rows delimited by
    0-based ``offsets``, len n_rows+1) → dict of per-row output arrays.

    ONE dictionary pass for the whole batch (C-side), localized per row via
    integer ops — per-row Arrow calls measured 3-8× slower on short rows
    (fixed call overhead dominates). Shared by encode_strings_df and the
    mixed-table kernel (tableframe)."""
    import pyarrow.compute as pc

    n_rows = offsets.size - 1
    denc = pc.dictionary_encode(child)
    gtable = [s.encode("utf-8") for s in denc.dictionary.to_pylist()]
    glens = np.array([len(b) for b in gtable], dtype=np.int64)
    gidx = denc.indices
    if gidx.null_count:
        gidx = gidx.fill_null(-1)
    gcodes = gidx.to_numpy(zero_copy_only=False).astype(np.int64)
    out = {
        "codec": [], "payload": [],
        "n_values": np.empty(n_rows, dtype=np.int32),
        "n_runs": np.empty(n_rows, dtype=np.int32),
        "null_count": np.zeros(n_rows, dtype=np.int32),
        "card": np.zeros(n_rows, dtype=np.int32),
        "val_min": [], "val_max": [],
        "raw_bytes": np.empty(n_rows, dtype=np.int64),
        "encoded_bytes": np.empty(n_rows, dtype=np.int64),
    }
    for i in range(n_rows):
        lo, hi = int(offsets[i]), int(offsets[i + 1])
        nv = hi - lo
        rc = gcodes[lo:hi]
        valid = None
        if (rc < 0).any():
            valid = rc >= 0
            pos = np.where(valid, np.arange(nv, dtype=np.int64), -1)
            np.maximum.accumulate(pos, out=pos)
            rc = rc[np.maximum(pos, 0)]
            first_valid = int(np.argmax(valid)) if valid.any() else 0
            rc = np.where(pos < 0, rc[first_valid] if valid.any() else 0, rc)
        if nv:
            # Localize in ROW-APPEARANCE order (first-occurrence rank), not
            # sorted global-code order, so the payload bytes are identical to
            # the per-row _dict_parts path — byte-determinism across encode
            # paths is what fingerprint/dedup comparisons rely on.
            uniq, first_pos, inv = np.unique(rc, return_index=True, return_inverse=True)
            order = np.argsort(first_pos, kind="stable")
            rank = np.empty(order.size, dtype=np.int64)
            rank[order] = np.arange(order.size)
            uniq = uniq[order]
            inv = rank[inv]
        else:
            uniq = np.zeros(0, dtype=np.int64)
            inv = np.zeros(0, dtype=np.int64)
        if valid is not None and not valid.any():
            table: list[bytes] = []  # all-null row: empty table
            inv = np.zeros(nv, dtype=np.int64)
        else:
            table = [gtable[int(u)] for u in uniq]
        vbytes = glens[rc[valid]] if valid is not None else glens[rc] if nv else glens[:0]
        tb = int(vbytes.sum())
        row = child.slice(lo, nv)
        name, payload, r, k, nulls = encode_string_block_stats(
            row, codec, parts=(table, inv, valid), total_bytes=tb
        )
        out["codec"].append(name)
        out["payload"].append(payload)
        out["n_values"][i] = nv
        out["n_runs"][i] = r
        out["null_count"][i] = nulls
        out["card"][i] = k
        if table:
            svals = [b.decode("utf-8") for b in table]
            out["val_min"].append(min(svals))
            out["val_max"].append(max(svals))
        else:
            out["val_min"].append(None)
            out["val_max"].append(None)
        out["raw_bytes"][i] = tb + 4 * nv
        out["encoded_bytes"][i] = len(payload)
    return out


def encode_string_column(lists: pa.Array, codec: str = "auto") -> dict:
    """:func:`encode_string_rows` over an ``array<string>`` column."""
    if isinstance(lists, pa.ChunkedArray):
        lists = lists.combine_chunks()
    offsets = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return encode_string_rows(lists.flatten(), offsets - offsets[0], codec)


def encode_strings_df(df: DataFrame, col: str = "vals", codec: str = "auto") -> DataFrame:
    """(doc_id, source, <col> array<string>) → string encoded blocks."""

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = encode_string_column(batch.column(col), codec)
            cols.update(doc_id=batch.column("doc_id"), source=batch.column("source"))
            yield emit(STRINGS, cols)

    return df.select("doc_id", "source", col).mapInArrow(kernel, STRING_BLOCKS_SCHEMA)


def decode_strings_df(blocks: DataFrame) -> DataFrame:
    """String blocks → (doc_id, source, vals array<string>) with element
    nulls restored; values identical to the encoded input. Per-row arrays
    come from ``decode_strings_arrow`` — sraw/sfsst payload buffers become
    Arrow string arrays directly (offsets + utf-8 data, no per-value
    Python objects) and dictionary codecs gather their table with Arrow
    nulls via its mask (Arrow-take on the tiny tables measured slower and
    was reverted), so decode stays object-free exactly where objects were
    the cost (5.5× on the sraw text regime; BASELINE.md round 4)."""
    return decode_df(blocks, {"vals": (STRINGS, "string", "")})


def dropna_strings_df(blocks: DataFrame) -> DataFrame:
    """dropna over string blocks — code-domain for dict-backed codecs
    (codecs/strings.dropna_strings); n_values reflects the post-drop
    length."""
    from rle_array_spark.codecs.strings import dropna_strings

    return rewrite_blocks(blocks, STRINGS, dropna_strings)


def fillna_strings_df(
    blocks: DataFrame, value: str | None = None, method: str | None = None
) -> DataFrame:
    """fillna over string blocks: ffill = header-only, value = code rewrite
    for dict-backed codecs, bfill = decode (codecs/strings.fillna_strings)."""
    from rle_array_spark.codecs.strings import fillna_strings

    def row_fn(c, p, n):
        return fillna_strings(c, p, n, value=value, method=method)

    return rewrite_blocks(blocks, STRINGS, row_fn)


def mask_strings_df(value_blocks: DataFrame, mask_blocks: DataFrame) -> DataFrame:
    """Boolean-mask gather ``values[mask]`` over a STRING encoded column;
    the mask side is a TYPED bool block table (the output of
    zip_strings_df / typed comparison zips) aligned on (doc_id, source) —
    the reference's boolean ``__getitem__`` on object dtype
    (/root/reference/rle_array/array.py:655-668). Dictionary-backed value
    codecs gather in the CODE domain (codecs/strings.mask_strings); null
    mask slots DROP rows (SQL WHERE semantics). All string metadata is
    recomputed from the post-gather payload."""
    from rle_array_spark.codecs.strings import mask_strings

    return pair_blocks(value_blocks, mask_blocks, STRINGS, ["doc_id", "source"], mask_strings,
                       what="a string mask row")


def filter_strings_df(blocks: DataFrame, op: str, value: str, pre=None) -> DataFrame:
    """Fused scalar eq/ne filter ``values[values op value]`` over a string
    encoded column — ``df[df.s == "x"]`` — in ONE shuffle-free mapInArrow
    pass, code-domain for dictionary-backed codecs
    (codecs/strings.filter_strings; the comparison touches only the
    table). Null slots drop (SQL WHERE); metadata recomputed exactly.

    ``pre`` is an optional ``str -> str`` map fused into the PREDICATE —
    ``filter_strings_df(b, 'eq', 'CLICK', pre=str.upper)`` keeps the
    ORIGINAL strings where ``pre(s) == value``, with ``pre`` running once
    per DISTINCT table value (the transform_strings_df discipline); must
    be deterministic and picklable."""
    from rle_array_spark.codecs.strings import filter_strings

    def row_fn(c, p, n):
        return filter_strings(c, p, n, op, value, pre_fn=pre)

    return rewrite_blocks(blocks, STRINGS, row_fn)


def transform_strings_df(blocks: DataFrame, fn) -> DataFrame:
    """Value-map a ``str -> str`` function over a string encoded column in
    one shuffle-free mapInArrow pass — TABLE-domain for dictionary-backed
    codecs (fn runs once per distinct value; colliding outputs dedupe with
    a code remap), decode-fallback for sraw/sfsst. Nulls stay null.
    ``fn`` must be deterministic and picklable (it ships to executors)."""
    from rle_array_spark.codecs.strings import transform_strings

    def row_fn(c, p, n):
        return transform_strings(c, p, n, fn)

    return rewrite_blocks(blocks, STRINGS, row_fn)


def zip_strings_df(blocks_a: DataFrame, blocks_b: DataFrame, op: str = "eq") -> DataFrame:
    """Elementwise eq/ne over two string encoded columns aligned on
    (doc_id, source), producing TYPED bool blocks (decode with
    typed.decode_typed_df(..., 'boolean')). Dictionary-backed pairs
    compare in the code domain — one O(cardinality) table remap, value
    bytes untouched."""
    from rle_array_spark.codecs.strings import zip_strings_compare

    def row_op(ca, pa_, cb, pb_, nv):
        return zip_strings_compare(ca, pa_, cb, pb_, nv, op)

    return pair_blocks(blocks_a, blocks_b, TYPED, ["doc_id", "source"], row_op,
                       what="a string zip row")


def value_counts_strings_df(blocks: DataFrame) -> DataFrame:
    """Value histogram from string payloads: dictionary-backed blocks
    bincount their CODE stream (string bytes touched once per distinct
    value), merged relationally — nulls excluded. Returns (doc_id,
    value, count)."""
    from rle_array_spark.codecs.strings import value_counts_strings

    return value_counts_df(blocks, value_counts_strings, "string")
