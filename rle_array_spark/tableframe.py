"""Mixed-dtype whole-table encode: every array column of a DataFrame gets
the codec family its element type calls for, in ONE wide blocks row per
input row.

This is the frame-level analog of the reference's ``auto_convert_to_rle``
over a whole pandas DataFrame (/root/reference/rle_array/autoconversion.py)
extended across the engine's three codec families:

- ``array<int>``        → token codecs (rle/dict/bitpack/for/ngram/raw)
- fixed-width arrays (float/bool/int64/timestamp, nullable) → typed codecs
  (trle/tdict/traw, bit-pattern runs, in-band null RLE)
- ``array<string>``     → string codecs (srle/sdict/sraw)

Columns of one row stay together (no join, no shuffle; engine.encode_frame_df
is this encode over int columns only), each column carries its own per-row
codec choice and zone-map metadata, and decode restores every column
bit-identically.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from rle_array_spark.blocks import FAMILIES, decode_df, ident, wide_arrays
from rle_array_spark.chooser import DEFAULT_THRESHOLD
from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.strings import STRING_CODECS
from rle_array_spark.codecs.typed import TYPED_CODECS
from rle_array_spark.engine import _encode_column, _list_to_numpy, check_encode_args
from rle_array_spark.strings import encode_string_column
from rle_array_spark.typed import _SPARK_ELEM, encode_typed_rows

# the codec names a table encode accepts besides "auto": any family's
TABLE_CODECS = (*CODECS, *TYPED_CODECS, *STRING_CODECS)


def _int_column(col, codec: str, threshold: float) -> dict:
    # family-foreign codec names fall back to auto, like the other kinds
    icodec = codec if codec in CODECS or codec == "auto" else "auto"
    return _encode_column(*_list_to_numpy(col), icodec, threshold)


def _typed_column(col, codec: str, threshold: float) -> dict:
    return encode_typed_rows(col, codec if codec in TYPED_CODECS else "auto",
                             zone_maps=False)


def _string_column(col, codec: str, threshold: float) -> dict:
    return encode_string_column(col, codec if codec in STRING_CODECS else "auto")


# kind → the family's column encoder: an Arrow list column → {field: values};
# ``threshold`` is the token chooser's (the other families ignore it)
_ENCODERS = {"int": _int_column, "typed": _typed_column, "string": _string_column}


def _kind(elem: str) -> str:
    return "int" if elem in ("int", "integer") else "string" if elem == "string" else "typed"


# element types (as ``DataFrame.dtypes`` spells them) the typed family
# round-trips: typed._SPARK_ELEM's, with Spark's names for long/short/byte
_TYPED_ELEMS = frozenset(
    {"long": "bigint", "short": "smallint", "byte": "tinyint"}.get(t, t) for t in _SPARK_ELEM.values()
)


def _spark_kind(col: str, spark_type: str) -> str:
    """The codec family of array column ``col``; ``ValueError`` at the call
    for a non-array column or an element type no family round-trips
    (decimal, date, binary, nested arrays, structs, …)."""
    inner = spark_type.strip()
    if not inner.startswith("array<"):
        raise ValueError(f"encode_table_df needs array columns, got {col!r}: {spark_type}")
    elem = inner[6:-1]
    kind = _kind(elem)
    if kind == "typed" and elem not in _TYPED_ELEMS:
        raise ValueError(
            f"encode_table_df cannot encode column {col!r} of type {spark_type}: element "
            f"types are int, string or one of {', '.join(sorted(_TYPED_ELEMS))}"
        )
    return kind


def wide_ddl(kinds: dict[str, str]) -> str:
    """The wide-row schema DDL for columns of the given kinds."""
    parts = ["doc_id string", "source string"]
    parts += [FAMILIES[k].ddl(FAMILIES[k].wide, prefix=f"{c}__") for c, k in kinds.items()]
    return ", ".join(parts)


def table_schema(df: DataFrame, cols: list[str]) -> tuple[str, dict[str, str]]:
    """(wide output schema DDL, column → kind map) from the input schema."""
    types = dict(df.dtypes)
    kinds = {c: _spark_kind(c, types[c]) for c in cols}
    return wide_ddl(kinds), kinds


def encode_table_df(df: DataFrame, cols: list[str], codec: str = "auto") -> DataFrame:
    """(doc_id, source, *array columns) → one wide encoded row per input
    row, each column under its dtype's codec family. Scan-parallel,
    shuffle-free."""
    check_encode_args(codec, codecs=TABLE_CODECS)
    return _encode_wide(df, cols, codec, DEFAULT_THRESHOLD)


def _encode_wide(df: DataFrame, cols: list[str], codec: str, threshold: float) -> DataFrame:
    schema, kinds = table_schema(df, cols)

    def kernel(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            arrays = [batch.column("doc_id"), batch.column("source")]
            names = ["doc_id", "source"]
            for i, cname in enumerate(cols):
                kind = kinds[cname]
                fields = _ENCODERS[kind](batch.column(2 + i), codec, threshold)
                col_arrays, col_names = wide_arrays(FAMILIES[kind], fields, cname)
                arrays += col_arrays
                names += col_names
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    # The kernel reads the array columns by position: PySpark's mapInArrow
    # looks up every input column by name, which fails on a backtick.
    picked = df.selectExpr("doc_id", "source", *[f"{ident(c)} AS _{i}" for i, c in enumerate(cols)])
    return picked.mapInArrow(kernel, schema)


def decode_table_df(
    blocks: DataFrame, col_types: dict[str, str]
) -> DataFrame:
    """Wide encoded rows → (doc_id, source, *array columns restored).

    ``col_types`` maps column name → Spark element type ('int', 'double',
    'boolean', 'timestamp', 'string', ...), the same names passed to
    :func:`encode_table_df`."""
    return decode_df(
        blocks, {c: (FAMILIES[_kind(t)], t, f"{c}__") for c, t in col_types.items()}
    )
