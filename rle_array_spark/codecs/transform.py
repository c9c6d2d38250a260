"""Compute-on-compressed: value-map transforms over encoded payloads.

The reference applies scalar binary/unary operators to *run values only*,
keeps the positions, and recompresses
(/root/reference/rle_array/array.py:748-849, recompress
_algorithms.py:343-367) — work proportional to the number of runs, not the
number of elements. This module is that idea per codec:

- rle:      fn over run values (O(n_runs)), merge newly-equal adjacent runs
- dict:     fn over the dictionary table (O(cardinality)), codes remapped
- for/bitpack: fn over the value stream (O(n), but no decode/re-encode of
  structure — values are already materialized by unpacking)
- raw:      fn over the values
- ngram:    decode-fallback (the grammar stores absolute token values whose
  transform may collide with symbol ids) — the PerformanceWarning analog;
  re-encoded with the chooser.

``fn`` receives int64 inputs and must produce values in the non-negative
int32 token range; out-of-range results raise (never wrap silently).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable

import numpy as np

from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.reduce import runs_stats, stream_stats
from rle_array_spark.codecs.rle import decode_runs, encode_runs, merge_runs

_INT32_MAX = np.int64(2**31 - 1)


def _checked_int32(values: np.ndarray) -> np.ndarray:
    """Cast transform output to int32, raising on overflow/negatives instead
    of silently wrapping (a wrapped token would decode 'successfully' to
    corrupt data — the one failure mode a codec must never have)."""
    v = np.asarray(values)
    if v.size and (int(v.min()) < 0 or int(v.max()) > _INT32_MAX):
        raise ValueError(
            f"transform result out of int32 token range: "
            f"[{int(v.min())}, {int(v.max())}]"
        )
    return v.astype(np.int32)


def transform_block_stats(
    codec: str, payload, n: int, fn: Callable[[np.ndarray], np.ndarray]
) -> tuple[str, bytes, int, int, int, int]:
    """Apply a value-map to one encoded block without full decode where the
    codec structure allows it, and return the new block with EXACT post-op
    metadata: (codec, payload, n_runs, tok_sum, tok_min, tok_max), computed
    from the codec structure at hand — run values + lengths for RLE
    (O(n_runs)), table + code counts for DICT — so non-monotonic ops (mod,
    bit-and, clamped sub) keep every metadata column truthful, which the
    analytic add/mul update cannot do (e.g. mul 0 merges every run)."""
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        if not run_values.size:
            return "rle", bytes(memoryview(payload)), 0, 0, 0, 0
        # recompress: merge adjacent runs made equal by the transform
        # (reference recompress, _algorithms.py:343-367)
        new_values, run_lengths = merge_runs(
            _checked_int32(fn(run_values.astype(np.int64))), run_lengths
        )
        return ("rle", encode_runs(new_values, run_lengths), *runs_stats(new_values, run_lengths))
    if codec == "dict":
        dc = CODECS["dict"]
        table, codes = dc.parts(payload, n)
        if not table.size:
            return "dict", bytes(memoryview(payload)), 0, 0, 0, 0
        # canonicalize: the transform may unsort or collide table entries
        canon, inverse = np.unique(_checked_int32(fn(table)), return_inverse=True)
        new_codes = inverse[codes]
        counts = np.bincount(new_codes, minlength=canon.size)
        # code→value is injective post-unique, so value runs == code runs
        n_runs = 1 + int(np.count_nonzero(new_codes[1:] != new_codes[:-1]))
        return (
            "dict",
            dc.encode_parts(canon, new_codes),
            n_runs,
            int(np.dot(canon.astype(np.int64), counts)),
            int(canon[0]),
            int(canon[-1]),
        )
    if codec in ("raw", "bitpack", "for"):
        values = _checked_int32(fn(CODECS[codec].decode(payload, n).astype(np.int64)))
        return (codec, CODECS[codec].encode(values), *stream_stats(values))
    # decode-fallback path (ngram): re-pick the codec after the transform
    from rle_array_spark.chooser import choose_codec
    from rle_array_spark.codecs.core import PerformanceWarning

    warnings.warn(
        f"transform of {codec!r} block decodes (grammar hides value structure)",
        PerformanceWarning,
        stacklevel=2,
    )
    values = _checked_int32(fn(CODECS[codec].decode(payload, n).astype(np.int64)))
    name, new_payload = choose_codec(values)
    return (name, new_payload, *stream_stats(values))
