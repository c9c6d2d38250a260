"""Typed-column encode/decode over Spark DataFrames.

Extends the token engine to the reference's full dtype surface: any
fixed-width element type (bool, int8..64, float32/64 incl. NaN,
timestamp/duration) with element-level nulls, as ``array<T>`` columns in
the same (doc_id, source, vals) shape as the token path
(/root/reference/rle_array/dtype.py:11-27 — the reference registers one
extension dtype per numpy dtype; here one blocks row per sequence with a
dtype tag inside the payload).

Same scale posture as engine.encode_df: one mapInArrow kernel at scan
parallelism, no shuffle, payloads self-contained, zone-map metadata
(val_min/val_max/null_count) alongside every block.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from rle_array_spark.blocks import (
    TYPED,
    decode_df,
    emit,
    pair_blocks,
    rewrite_blocks,
    value_counts_df,
)
from rle_array_spark.codecs.typed import _fill_nulls, encode_typed

TYPED_BLOCKS_SCHEMA = TYPED.ddl()

# numpy dtype name ↔ Spark element type for decode round-trips
_SPARK_ELEM = {
    "int32": "int",
    "int64": "long",
    "float64": "double",
    "float32": "float",
    "bool": "boolean",
    "int16": "short",
    "int8": "byte",
    "datetime64[us]": "timestamp",
}


def _arrow_np_dtype(t: pa.DataType) -> np.dtype:
    if pa.types.is_timestamp(t):
        return np.dtype(f"<M8[{t.unit}]")
    if pa.types.is_duration(t):
        return np.dtype(f"<m8[{t.unit}]")
    return np.dtype(t.to_pandas_dtype())


def _list_child_parts(col: pa.Array):
    """ListArray → (offsets int64 normalized to 0, flat values ndarray,
    flat valid mask | None). Buffer-level extraction so a float NULL and a
    float NaN stay distinct (to_numpy would fold both to NaN)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = offsets - offsets[0]
    child = col.flatten()
    dtype = _arrow_np_dtype(child.type)
    valid = None
    if child.null_count:
        valid = ~np.asarray(child.is_null())
        child = child.fill_null(
            pa.scalar(0, type=pa.int64()).cast(child.type)
            if not pa.types.is_boolean(child.type)
            else False
        )
    if pa.types.is_boolean(child.type):
        bits = np.frombuffer(child.buffers()[1], dtype=np.uint8)
        vals = np.unpackbits(bits, bitorder="little", count=child.offset + len(child))[
            child.offset :
        ].astype(bool)
    else:
        buf = child.buffers()[1]
        vals = np.frombuffer(buf, dtype=dtype, count=child.offset + len(child))[
            child.offset :
        ]
    return offsets, vals, valid


def encode_typed_rows(col: pa.Array, codec: str = "auto", zone_maps: bool = True) -> dict:
    """Encode every row of an ``array<T>`` column → {field: per-row
    values}: vtype, codec, payload, n_values, null_count, encoded_bytes,
    and with ``zone_maps`` the narrow blocks table's n_runs, val_min,
    val_max and raw_bytes (a wide table row carries only the first six)."""
    offsets, flat, valid = _list_child_parts(col)
    n_rows, w = offsets.size - 1, flat.dtype.itemsize
    out = {"codec": [], "payload": [], "n_values": offsets[1:] - offsets[:-1],
           "null_count": np.zeros(n_rows, dtype=np.int32), "vtype": [str(flat.dtype)] * n_rows}
    if zone_maps:
        out.update(n_runs=np.empty(n_rows, dtype=np.int32), val_min=np.full(n_rows, np.nan),
                   val_max=np.full(n_rows, np.nan), raw_bytes=out["n_values"] * w)
    is_float = flat.dtype.kind == "f"
    numeric_view = flat if flat.dtype.kind in "fiub" else flat.view("<i8")
    for i in range(n_rows):
        lo, hi = int(offsets[i]), int(offsets[i + 1])
        row = flat[lo:hi]
        mask = valid[lo:hi] if valid is not None else None
        name, payload = encode_typed(row, mask, codec)
        out["codec"].append(name)
        out["payload"].append(payload)
        nulls = int((~mask).sum()) if mask is not None else 0
        out["null_count"][i] = nulls
        if not zone_maps:
            continue
        bv = row.view(f"<u{w}") if w > 1 else row.view("<u1")
        if nulls:
            # n_runs must match the PAYLOAD's run structure, which
            # forward-fills null slots (the audit primitive
            # typed_payload_stats recomputes exactly this)
            bv = _fill_nulls(bv, mask)
        out["n_runs"][i] = 1 + int(np.count_nonzero(bv[1:] != bv[:-1])) if bv.size else 0
        nv = numeric_view[lo:hi]
        if nulls:
            nv = nv[mask]
        if nv.size:
            if is_float:
                finite = nv[~np.isnan(nv)]
                if finite.size:
                    out["val_min"][i] = float(finite.min())
                    out["val_max"][i] = float(finite.max())
            else:
                out["val_min"][i] = float(nv.min())
                out["val_max"][i] = float(nv.max())
    out["encoded_bytes"] = [len(p) for p in out["payload"]]
    return out


def encode_typed_df(df: DataFrame, col: str = "vals", codec: str = "auto") -> DataFrame:
    """(doc_id, source, <col> array<T>) → typed encoded blocks.

    Scan-parallel, shuffle-free; per-row cost-based codec choice on the
    value bit patterns (NaN-run aware); in-band null mask."""

    def kernel(batches):
        for batch in batches:
            if batch.num_rows:
                cols = encode_typed_rows(batch.column(col), codec)
                cols.update(doc_id=batch.column("doc_id"), source=batch.column("source"))
                yield emit(TYPED, cols)

    return df.select("doc_id", "source", col).mapInArrow(kernel, TYPED_BLOCKS_SCHEMA)


def zip_typed_df(
    blocks_a: DataFrame, blocks_b: DataFrame, op: str, post=None
) -> DataFrame:
    """Elementwise ``op`` over two typed encoded columns aligned on
    (doc_id, source), on the run-boundary union grid (codecs/typed_zip.py)
    — the reference's any-dtype binary operators with null propagation
    (/root/reference/tests/test_operators.py over dtype fixtures).
    Comparisons produce bool blocks. Metadata (n_runs, null_count,
    val_min/val_max) is recomputed exactly from the new payload.

    ``post`` is an optional scalar/unary chain (the
    :func:`transform_typed_chain_df` steps format) FUSED into the zip
    kernel: ``(a + b) * 3 - 100`` or ``(a - b) >= t`` runs as one pass —
    one union-grid evaluation + one emit instead of a zip stage followed
    by N transform stages. Decode-identical to composing the steps after
    the zip (differential-tested); a comparison is only legal as the
    last post step, and a comparison zip op only takes bool-domain post
    steps (e.g. ``invert``)."""
    from rle_array_spark.codecs.typed_zip import (
        COMPARISON_OPS,
        TYPED_ZIP_OPS,
        zip_typed_blocks,
    )

    if op not in TYPED_ZIP_OPS:
        raise ValueError(f"unsupported typed zip op {op!r}; one of {sorted(TYPED_ZIP_OPS)}")
    if post is not None and op in COMPARISON_OPS:
        # the zip output is a bool mask — arithmetic post steps would
        # silently emit non-bool blocks that mask_typed_df later rejects
        # deep in an executor; fail at the driver instead
        for step in post:
            name = step[0] if isinstance(step, (tuple, list)) else step
            if name not in ("invert", "eq", "ne"):
                raise ValueError(
                    f"post step {name!r} on a comparison zip must stay in "
                    "the bool domain (invert/eq/ne)"
                )
    post_fn, post_bool = (None, False) if post is None else _resolve_typed_chain(post)

    def row_op(ca, pa_, cb, pb_, nv):
        return zip_typed_blocks(
            ca, pa_, cb, pb_, nv, op, post_fn=post_fn, post_bool=post_bool
        )

    return pair_blocks(blocks_a, blocks_b, TYPED, ["doc_id", "source"], row_op,
                       what="a typed zip row")


def mask_typed_df(value_blocks: DataFrame, mask_blocks: DataFrame) -> DataFrame:
    """Boolean-mask gather ``values[mask]`` over two typed encoded columns
    aligned on (doc_id, source); the mask column holds bool blocks (the
    output of the comparison zips), so ``arr[arr > x]`` composes in the
    encoded domain — the reference's boolean ``__getitem__``
    (/root/reference/rle_array/array.py:655-668) for every dtype. Null
    mask slots DROP rows (SQL WHERE semantics; codecs/typed_zip.mask_typed).
    n_values and all metadata reflect the post-gather block exactly."""
    from rle_array_spark.codecs.typed_zip import mask_typed

    return pair_blocks(value_blocks, mask_blocks, TYPED, ["doc_id", "source"], mask_typed,
                       what="a typed mask row")


def filter_typed_df(blocks: DataFrame, op: str, operand, pre=None) -> DataFrame:
    """Fused scalar-comparison filter ``values[values op operand]`` over a
    typed encoded column — ``df[df.x < c]`` for any dtype — in ONE
    shuffle-free mapInArrow pass with no mask payload
    (codecs/typed_zip.filter_typed: comparison on run values for trle /
    the table for tdict; null slots drop, SQL WHERE). Metadata reflects
    the post-filter blocks exactly.

    ``pre`` is an optional scalar/unary chain (the
    :func:`transform_typed_chain_df` steps format, arithmetic only) fused
    into the PREDICATE: ``filter_typed_df(b, 'gt', c, pre=[('abs',
    None)])`` keeps the ORIGINAL values where ``abs(v) > c`` — a filter
    on a derived quantity with no derived column materialized and still
    one kernel pass; ``operand`` compares in the chain's output domain."""
    from rle_array_spark.codecs.typed_zip import filter_typed

    pre_fn = None
    if pre is not None:
        pre_fn, pre_bool = _resolve_typed_chain(pre)
        if pre_bool:
            raise ValueError(
                "pre chain must be arithmetic (no comparisons) — the "
                "filter op is the comparison"
            )

    def row_fn(c, p, n):
        return filter_typed(c, p, n, op, operand, pre_fn=pre_fn)

    return rewrite_blocks(blocks, TYPED, row_fn)


def _resolve_typed_op(op: str, operand=None):
    """→ (fn(values ndarray) -> ndarray, to_bool) for one scalar/unary
    operator name — the shared resolution behind ``transform_typed_df``
    and the fused ``transform_typed_chain_df``."""
    from rle_array_spark.codecs.typed_zip import (
        COMPARISON_OPS,
        TYPED_UNARY_OPS,
        TYPED_ZIP_OPS,
    )

    if op == "round":
        # reference ``round(decimals)`` (array.py:913-916, exercised in
        # tests/test_misc_operations.py:57-79): np.round the run values
        # and recompress — the last named reference dunder. HALF-EVEN
        # (numpy/IEEE) semantics, matching the reference's numpy round;
        # the DuckDB oracle uses round_even(), NOT round() (half-away).
        decimals = 0 if operand is None else operand
        if not isinstance(decimals, (int, np.integer)) or isinstance(decimals, bool):
            raise ValueError(f"round decimals must be an int, got {decimals!r}")
        fn = lambda v, _d=int(decimals): np.round(v, _d)  # noqa: E731
        to_bool = False
    elif op in TYPED_UNARY_OPS:
        if operand is not None:
            raise ValueError(f"unary op {op!r} takes no operand")
        base = TYPED_UNARY_OPS[op]
        fn = base
        to_bool = False
    elif op in TYPED_ZIP_OPS:
        if operand is None:
            raise ValueError(f"scalar op {op!r} needs an operand")
        zf = TYPED_ZIP_OPS[op]
        opnd = np.asarray(operand)  # 0-d array: broadcasts AND has .astype
        fn = lambda v: zf(v, opnd)  # noqa: E731 — scalar broadcast
        to_bool = op in COMPARISON_OPS
    elif (
        op.startswith("r")
        and op[1:] in TYPED_ZIP_OPS
        and op[1:] not in COMPARISON_OPS
    ):
        # reflected scalar forms (reference __rsub__/__rtruediv__/
        # __rfloordiv__/__rmod__/__rpow__, array.py:769-807): scalar OP
        # values. The scalar side is materialized to the values' shape so
        # the zero-safe where= branches of floordiv/mod see full arrays,
        # and promoted so an int scalar over a float column divides in
        # float (reflected comparisons are just the mirrored forward ops
        # and stay unnamed, like the reference's pandas dispatch).
        if operand is None:
            raise ValueError(f"scalar op {op!r} needs an operand")
        zf = TYPED_ZIP_OPS[op[1:]]
        opnd = np.asarray(operand)

        def fn(v, _zf=zf, _k=opnd):  # noqa: E731 — reflected broadcast
            k_arr = np.broadcast_to(_k, v.shape).astype(
                np.result_type(_k, v), copy=False
            )
            return _zf(k_arr, v)

        to_bool = False
    else:
        raise ValueError(
            f"unsupported op {op!r}; unary: {sorted(TYPED_UNARY_OPS)}, "
            f"scalar: {sorted(TYPED_ZIP_OPS)} (+ reflected r-forms of the "
            f"non-commutative ones)"
        )
    return fn, to_bool


def transform_typed_df(blocks: DataFrame, op: str, operand=None) -> DataFrame:
    """Compressed-domain scalar/unary operator over a typed encoded column
    (reference dunders array.py:748-849 for arbitrary dtypes): unary ops
    from ``TYPED_UNARY_OPS`` (neg/abs/pos/invert, no operand) or any
    ``TYPED_ZIP_OPS`` entry applied against a broadcast scalar operand
    (add/sub/mul/div/floordiv/mod/pow/min/max + comparisons → bool
    blocks usable as masks), or a reflected ``r``-form of a
    non-commutative one (rsub/rdiv/rfloordiv/rmod/rpow — scalar OP
    values, reference __rsub__ etc., array.py:769-807). Runs in one
    shuffle-free mapInArrow pass on run values only; nulls stay null;
    adjacent runs made equal by the map merge (recompress invariant).
    Metadata recomputed exactly."""
    from rle_array_spark.codecs.typed_zip import transform_typed

    fn, to_bool = _resolve_typed_op(op, operand)

    def row_fn(c, p, n):
        return transform_typed(c, p, n, fn, to_bool=to_bool)

    return rewrite_blocks(blocks, TYPED, row_fn)


def _resolve_typed_chain(steps):
    """→ (composed fn, to_bool) for a list of ``op`` / ``(op, operand)``
    steps; a comparison is only legal as the LAST step."""
    if not steps:
        raise ValueError("empty transform chain")
    fns: list = []
    to_bool = False
    for i, step in enumerate(steps):
        op, operand = step if isinstance(step, (tuple, list)) else (step, None)
        fn_i, b = _resolve_typed_op(op, operand)
        if b and i != len(steps) - 1:
            raise ValueError(
                f"comparison {op!r} only allowed as the last chain step"
            )
        fns.append(fn_i)
        to_bool = b

    def fused(v):
        for f in fns:
            v = f(v)
        return v

    return fused, to_bool


def transform_typed_chain_df(blocks: DataFrame, steps) -> DataFrame:
    """Fused chain of scalar/unary operators in ONE kernel pass — the
    expression-evaluation shape for chained dunders like
    ``abs(-a) * 3 - 100`` (reference chains in tests/test_operators.py).
    ``steps`` is a list of ``op`` / ``(op, operand)`` items resolved
    exactly like :func:`transform_typed_df`; the composed value map runs
    over each block's run values once, so an N-op chain pays one payload
    parse + one emit + one Arrow pass instead of N (N mapInArrow stages
    collapse to one — at cluster scale that is N× less Arrow
    (de)serialization and task-launch overhead on the hot expression
    path). A comparison is only allowed as the LAST step (its bool output
    leaves the arithmetic domain); results are bit-identical to the
    step-by-step chain (differential-tested)."""
    from rle_array_spark.codecs.typed_zip import transform_typed

    fused, to_bool = _resolve_typed_chain(steps)

    def row_fn(c, p, n):
        return transform_typed(c, p, n, fused, to_bool=to_bool)

    return rewrite_blocks(blocks, TYPED, row_fn)


def cast_typed_df(blocks: DataFrame, to_dtype) -> DataFrame:
    """Cross-dtype cast over typed encoded blocks — the reference's
    ``astype`` (/root/reference/rle_array/array.py:445-453,670-681) as a
    compressed-domain block transform: trle casts run values only (adjacent
    runs merging canonically), tdict/traw re-encode the cast values under
    the same codec. Shuffle-free mapInArrow; metadata (n_runs, null_count,
    val_min/val_max, byte sizes) recomputed exactly from the new payload."""
    from rle_array_spark.codecs.typed import cast_typed

    to_dtype = np.dtype(to_dtype)

    def row_fn(c, p, n):
        return cast_typed(c, p, n, to_dtype)

    return rewrite_blocks(blocks, TYPED, row_fn)


def fillna_typed_df(blocks: DataFrame, value=None, method: str | None = None) -> DataFrame:
    """fillna over typed encoded blocks (reference array.py:902-911) —
    compressed-domain: ffill is a header-only rewrite (the body already
    forward-fills nulls), fillna(value) rewrites null runs on the run grid;
    bfill decodes. Shuffle-free; length unchanged."""
    from rle_array_spark.codecs.typed import fillna_typed

    def row_fn(c, p, n):
        return fillna_typed(c, p, n, value=value, method=method)

    return rewrite_blocks(blocks, TYPED, row_fn)


def shift_typed_df(blocks: DataFrame, periods: int) -> DataFrame:
    """Positional shift within each sequence (reference array.py:875-900):
    vacated slots become null. Run-domain for trle (codecs/typed.shift_typed),
    shuffle-free, length unchanged."""
    from rle_array_spark.codecs.typed import shift_typed

    def row_fn(c, p, n):
        return shift_typed(c, p, n, periods)

    return rewrite_blocks(blocks, TYPED, row_fn)


def dropna_typed_df(blocks: DataFrame) -> DataFrame:
    """dropna over typed encoded blocks (reference _algorithms.py:174-199):
    run lengths shrink by their null counts, computed from the in-payload
    validity RLE — O(runs) per block, no decode on the trle path.
    n_values reflects the post-drop length."""
    from rle_array_spark.codecs.typed import dropna_typed

    return rewrite_blocks(blocks, TYPED, dropna_typed)


TYPED_REDUCTIONS_SCHEMA = (
    "doc_id string, source string, n_runs int, null_count int, "
    "val_min double, val_max double, val_sum double"
)


def typed_block_reductions_df(blocks: DataFrame) -> DataFrame:
    """Recompute per-block stats from the PAYLOADS (compressed-domain for
    trle/tdict — run values × per-run valid counts, table × code counts —
    see codecs.typed.typed_payload_stats). The audit primitive for typed
    blocks: comparing this against the stored metadata columns catches
    payload corruption without decoding a single array."""
    from rle_array_spark.codecs.typed import typed_payload_stats

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            codecs_col = batch.column("codec").to_pylist()
            n_col = batch.column("n_values").to_numpy(zero_copy_only=False).astype(np.int64)
            payload_col = batch.column("payload")
            n_rows = batch.num_rows
            n_runs = np.empty(n_rows, dtype=np.int32)
            null_count = np.empty(n_rows, dtype=np.int32)
            vmin = np.full(n_rows, np.nan)
            vmax = np.full(n_rows, np.nan)
            vsum = np.full(n_rows, np.nan)
            for i in range(n_rows):
                r, nc, lo, hi, s = typed_payload_stats(
                    codecs_col[i],
                    memoryview(payload_col[i].as_buffer()),
                    int(n_col[i]),
                )
                n_runs[i], null_count[i] = r, nc
                if lo is not None:
                    vmin[i], vmax[i], vsum[i] = lo, hi, s
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    batch.column("source"),
                    pa.array(n_runs),
                    pa.array(null_count),
                    pa.array(vmin),
                    pa.array(vmax),
                    pa.array(vsum),
                ],
                names=[
                    "doc_id", "source", "n_runs", "null_count",
                    "val_min", "val_max", "val_sum",
                ],
            )

    return blocks.select(
        "doc_id", "source", "codec", "payload", "n_values"
    ).mapInArrow(kernel, TYPED_REDUCTIONS_SCHEMA)


def decode_typed_df(blocks: DataFrame, elem_type: str) -> DataFrame:
    """Typed blocks → (doc_id, source, vals array<elem_type>) with element
    nulls restored; values bit-identical to the encoded input."""

    return decode_df(blocks, {"vals": (TYPED, elem_type, "")})


def take_typed_df(
    blocks: DataFrame,
    stride: int | None = None,
    offset: int = 0,
    indices=None,
) -> DataFrame:
    """Positional gather over typed blocks — the any-dtype analog of
    engine.take_blocks (stride grid or explicit sorted indices clipped per
    block; repeats allowed). Run-domain for trle (codecs/typed_zip.take_typed),
    with exact metadata recompute."""
    from rle_array_spark.codecs.typed_zip import take_typed
    from rle_array_spark.engine import take_positions

    idx_global = take_positions(stride, offset, indices)

    def row_op(codec, payload, n):
        if stride is not None:
            idx = np.arange(offset, n, stride, dtype=np.int64)
        else:
            idx = idx_global[: int(np.searchsorted(idx_global, n))]
        return (*take_typed(codec, payload, n, idx), idx.size)

    return rewrite_blocks(blocks, TYPED, row_op)


def reverse_typed_df(blocks: DataFrame) -> DataFrame:
    """Reversed typed blocks (negative-step slice) — run-domain, O(n_runs)
    for trle."""
    from rle_array_spark.codecs.typed_zip import reverse_typed

    return rewrite_blocks(blocks, TYPED, reverse_typed)


def value_counts_typed_df(blocks: DataFrame, elem_type: str) -> DataFrame:
    """Value histogram from typed payloads: per-block (value, partial
    count) pairs in one shuffle-free pass (codecs/typed_zip.
    value_counts_typed — run values weighted by lengths for trle, code
    bincount for tdict; null slots excluded), merged with a relational
    groupBy that shuffles only distinct values. Returns (doc_id, value,
    count); NaNs group as one key (bit-view grouping)."""

    from rle_array_spark.codecs.typed_zip import value_counts_typed

    return value_counts_df(blocks, value_counts_typed, elem_type)


def doc_quantiles_typed_df(
    blocks: DataFrame,
    elem_type: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    interpolation: str = "lower",
) -> DataFrame:
    """Exact per-doc discrete quantiles over a typed column, computed from
    the compressed value-counts histogram (nulls excluded by construction;
    float NaN sorts LAST — the Spark/NumPy convention). Same ceil(p·n)
    pick and binary-exact-probability contract as the token-side
    ``engine.source_quantiles_df``; the shuffle carries only (doc, value,
    count) tuples.

    ``interpolation='linear'`` mirrors engine.source_quantiles_df's
    pandas/numpy-linear variant (reference decode-fallback convention,
    array.py:537-554): h = (n-1)p, interpolate between the two order
    statistics from the same cumulative column; output DOUBLE. Numeric
    element types only (linear interpolation of timestamps/bools is not
    defined here)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if interpolation not in ("lower", "linear"):
        raise ValueError(f"interpolation must be 'lower' or 'linear', got {interpolation!r}")
    for p in probs:
        if not (0 < p <= 1) or (p * 2**32) != int(p * 2**32):
            raise ValueError(f"probability {p} is not a binary-exact fraction")
    vc = value_counts_typed_df(blocks, elem_type)
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.withColumn("cum", F.sum("count").over(w_cum)).withColumn(
        "n_vals", F.sum("count").over(Window.partitionBy("doc_id"))
    )
    from rle_array_spark.engine import quantile_aggs

    return cum.groupBy("doc_id", "n_vals").agg(
        *quantile_aggs("n_vals", probs, interpolation)
    )
