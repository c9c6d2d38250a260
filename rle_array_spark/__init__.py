"""rle-array-spark: a PySpark-native per-column lightweight-compression engine.

Generalizes the run-length-encoding data model of JDASoftwareGroup/rle-array
(reference: /root/reference/rle_array/array.py — run values + int64 run-end
positions) into a codec family — RLE, DICT, BITPACK, FOR (frame-of-reference),
NGRAM (FSST-style pair-grammar over token streams) — with per-block cost-based
codec auto-selection, applied to the ``tokens: array<int32>`` column of a table
of pre-tokenized training sequences.

Architecture (SURVEY.md §7): pure-NumPy codec kernels below the DataFrame
layer; everything relational is the stock Spark DataFrame API. Kernels only
ever see Arrow record batches (``mapInArrow``) — no per-row Python UDFs.
"""

__version__ = "0.1.0"

from rle_array_spark.codecs import CODECS, decode_block, encode_block  # noqa: F401
from rle_array_spark.chooser import choose_codec, choose_codec_batch  # noqa: F401
from rle_array_spark import _zipcache

_zipcache.install_in_worker()  # a Spark worker imports the package to unpickle a kernel

__all__ = [
    "CODECS",
    "encode_block",
    "decode_block",
    "choose_codec",
    "choose_codec_batch",
    "__version__",
]
