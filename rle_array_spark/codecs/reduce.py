"""Compressed-domain reductions and slicing — never materialize the array.

Reference semantics:
- sum  = dot(run_values, run_lengths)      (/root/reference/rle_array/array.py:608-616)
- min/max/any/all over run values only     (array.py:478-513,556-567)
- getitem[slice] via searchsorted on end positions, O(log n_runs + out)
  (find_slice, /root/reference/rle_array/_algorithms.py:230-297)

Per codec:
- rle:     all reductions O(n_runs); slice O(log n_runs + out_runs)
- dict:    min/max O(1) on the sorted table; sum needs code counts (bincount
           over codes, O(n) but integer-cheap, no value materialization)
- bitpack/for/raw: reductions over the unpacked stream (O(n), vectorized);
           slice unpacks only the requested window
- ngram:   decode-fallback (grammar hides positions)
"""

from __future__ import annotations

import numpy as np

from rle_array_spark.codecs import CODECS
from rle_array_spark.codecs.rle import decode_runs, encode_runs, merge_runs, split_runs

_dict_parts = CODECS["dict"].parts


def block_sum(codec: str, payload, n: int) -> int:
    """Σ values without decoding the array."""
    if n == 0:
        return 0
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        return int(np.dot(run_values.astype(np.int64), run_lengths))
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        counts = np.bincount(codes, minlength=table.size)
        return int(np.dot(table.astype(np.int64), counts))
    values = CODECS[codec].decode(payload, n)  # bitpack/for/raw: stream unpack
    return int(values.sum(dtype=np.int64))


def block_min_max(codec: str, payload, n: int) -> tuple[int, int]:
    """(min, max) without decode; O(n_runs) for RLE, O(1) for DICT."""
    if n == 0:
        return 0, 0
    if codec == "rle":
        run_values, _ = decode_runs(payload)
        return int(run_values.min()), int(run_values.max())
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        # referenced entries only (external tables may carry unused slots);
        # table is sorted, so first/last referenced = min/max
        ref = table[np.bincount(codes, minlength=table.size) > 0]
        return int(ref[0]), int(ref[-1])
    values = CODECS[codec].decode(payload, n)
    return int(values.min()), int(values.max())


def block_any_all(codec: str, payload, n: int) -> tuple[bool, bool]:
    """(any, all) of values-as-booleans (nonzero test) without decode —
    run values only for RLE, table only for DICT (reference any/all,
    /root/reference/rle_array/array.py:478-494)."""
    if n == 0:
        return False, True
    if codec == "rle":
        run_values, _ = decode_runs(payload)
        return bool((run_values != 0).any()), bool((run_values != 0).all())
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        ref = table[np.bincount(codes, minlength=table.size) > 0]
        return bool((ref != 0).any()), bool((ref != 0).all())
    values = CODECS[codec].decode(payload, n)
    return bool((values != 0).any()), bool((values != 0).all())


def block_prod(codec: str, payload, n: int) -> float:
    """Π values without decode: RLE uses prod(values ** lengths) in float64
    (reference prod, /root/reference/rle_array/array.py:569-579; like the
    reference, large blocks overflow — to inf here rather than wrapping)."""
    if n == 0:
        return 1.0
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        with np.errstate(over="ignore"):
            return float(np.prod(np.power(run_values.astype(np.float64), run_lengths)))
    values = CODECS[codec].decode(payload, n)
    with np.errstate(over="ignore"):
        return float(np.prod(values.astype(np.float64)))


def block_prod_mod(codec: str, payload, n: int, p: int) -> int:
    """Π values mod prime ``p`` without decode — the SQL-portable variant of
    :func:`block_prod` (reference prod, array.py:569-579; the mod-prime
    domain keeps it exact where float64 prod overflows to inf).

    RLE: ``pow(v, run_length, p)`` per run (O(n_runs · log run_len));
    DICT: ``pow(table[i], count_i, p)`` per entry (O(cardinality · log n));
    otherwise a vectorized pairwise tree reduction with a mod per level
    (O(n) work, log n passes)."""
    if n == 0:
        return 1 % p
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        acc = 1
        for v, ln in zip(run_values.tolist(), run_lengths.tolist()):
            acc = (acc * pow(v % p, ln, p)) % p
        return acc
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        counts = np.bincount(codes, minlength=table.size)
        acc = 1
        for v, c in zip(table.tolist(), counts.tolist()):
            if c:
                acc = (acc * pow(v % p, int(c), p)) % p
        return acc
    values = CODECS[codec].decode(payload, n).astype(np.int64) % p
    while values.size > 1:
        if values.size & 1:
            values = np.append(values, 1)
        values = (values[0::2] * values[1::2]) % p
    return int(values[0])


def decode_slice(codec: str, payload, n: int, start: int, stop: int) -> np.ndarray:
    """values[start:stop] with work proportional to the slice, not the block
    (reference find_slice, _algorithms.py:230-297). start/stop are clamped."""
    start = max(0, min(start, n))
    stop = max(start, min(stop, n))
    if stop == start:
        return np.zeros(0, np.int32)
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        ends = np.cumsum(run_lengths)
        first = int(np.searchsorted(ends, start, side="right"))
        last = int(np.searchsorted(ends, stop - 1, side="right"))
        vals = run_values[first : last + 1]
        lens = run_lengths[first : last + 1].copy()
        prev_end = int(ends[first - 1]) if first > 0 else 0
        lens[0] -= start - prev_end
        lens[-1] = min(int(ends[last]), stop) - max(start, int(ends[last - 1]) if last > 0 else 0)
        if len(lens) == 1:
            lens[0] = stop - start
        return np.repeat(vals, lens)
    if codec == "raw":
        return np.frombuffer(payload, dtype="<i4", count=stop, offset=0)[start:stop].astype(
            np.int32
        )
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        return table.astype(np.int32)[codes[start:stop]]
    # bitpack/for/ngram: decode then slice (bit-level window math is possible
    # for bitpack/for but the stream unpack is already a single C pass)
    return CODECS[codec].decode(payload, n)[start:stop]


def take_runs(
    codec: str, payload, n: int, idx: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """values[idx] as canonical RLE runs, for sorted ``idx`` in [0, n).

    The compressed-domain gather (reference ``_take_kernel``,
    /root/reference/rle_array/_algorithms.py:370-481, incl. its run-reuse
    optimization): for RLE, indices are mapped to source runs via one
    searchsorted — consecutive indices landing in the same source run
    collapse into one output run, and the gathered sequence is NEVER
    materialized. Adjacent output runs that expose equal values (their
    separating runs were skipped entirely) are merged, so the result
    satisfies the canonical-form invariant (no empty runs, neighbors
    differ). Other codecs gather the value stream and re-run-split.

    Returns (run_values int32, run_lengths int64)."""
    idx = np.asarray(idx, dtype=np.int64)
    if idx.size == 0:
        return np.zeros(0, np.int32), np.zeros(0, np.int64)
    if idx[0] < 0 or idx[-1] >= n:
        raise IndexError(f"take index out of range [0, {n})")
    if codec == "rle":
        run_values, run_lengths = decode_runs(payload)
        ends = np.cumsum(run_lengths)
        ridx = np.searchsorted(ends, idx, side="right")
        starts = np.concatenate(([0], np.flatnonzero(ridx[1:] != ridx[:-1]) + 1))
        lens = np.diff(np.concatenate((starts, [idx.size])))
        return merge_runs(run_values[ridx[starts]], lens)
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        gathered = table.astype(np.int32)[codes[idx]]
    elif codec == "raw":
        gathered = np.frombuffer(payload, dtype="<i4", count=n)[idx].astype(np.int32)
    else:
        gathered = CODECS[codec].decode(payload, n)[idx]
    vals, lens = split_runs(np.ascontiguousarray(gathered))
    return vals.astype(np.int32, copy=False), lens


def runs_stats(run_values: np.ndarray, run_lengths: np.ndarray) -> tuple[int, int, int, int]:
    """(n_runs, sum, min, max) of a block held as canonical runs."""
    if not run_values.size:
        return 0, 0, 0, 0
    return (
        int(run_values.size),
        int(np.dot(run_values.astype(np.int64), run_lengths)),
        int(run_values.min()),
        int(run_values.max()),
    )


def stream_stats(values: np.ndarray) -> tuple[int, int, int, int]:
    """(n_runs, sum, min, max) of a materialized value stream."""
    if values.size == 0:
        return 0, 0, 0, 0
    n_runs = 1 + int(np.count_nonzero(values[1:] != values[:-1]))
    return n_runs, int(values.sum(dtype=np.int64)), int(values.min()), int(values.max())


def payload_stats(codec: str, payload, n: int) -> tuple[int, int, int, int]:
    """(n_runs, sum, min, max) of one encoded block — compressed-domain for
    RLE (O(n_runs)) and DICT (table + code scan), stream-unpack otherwise.
    The uniform exact-metadata primitive for operators that produce new
    payloads (transform, zip)."""
    if n == 0:
        return 0, 0, 0, 0
    if codec == "rle":
        return runs_stats(*decode_runs(payload))
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        counts = np.bincount(codes, minlength=table.size)
        n_runs = 1 + int(np.count_nonzero(codes[1:] != codes[:-1]))
        # min/max over REFERENCED entries only: DictCodec.encode accepts an
        # external table, and this is the audit primitive for blocks written
        # by other jobs — an unreferenced entry must not leak into stats
        ref = table[counts > 0]
        return (
            n_runs,
            int(np.dot(table.astype(np.int64), counts)),
            int(ref[0]),
            int(ref[-1]),
        )
    return stream_stats(CODECS[codec].decode(payload, n))


def normalize_take_indices(
    indices, n: int, allow_fill: bool
) -> tuple[np.ndarray, np.ndarray]:
    """pandas ExtensionArray.take index rules, mirrored from the reference
    (`/root/reference/rle_array/_algorithms.py:422-470`): with
    ``allow_fill`` the only negative index allowed is -1 (→ fill slot,
    ValueError otherwise); without it negatives count from the end. Any
    non-empty take from an empty array raises IndexError. Documented
    deviation: the reference also raises for an EMPTY no-fill take from
    an empty array (pure pandas-contract pedantry, _algorithms.py:457) —
    here that returns empty, because chunked empty blocks flow through
    the DF take path. Returns (indices int64 with negatives resolved,
    fill_mask bool)."""
    idx = np.asarray(indices, dtype=np.int64).copy()
    if n == 0 and (
        (allow_fill and bool(np.any(idx != -1)))
        or (not allow_fill and idx.size > 0)
    ):
        raise IndexError("cannot do a non-empty take")
    if allow_fill:
        bad = idx < -1
        if np.any(bad):
            raise ValueError(f"{int(idx[bad][0])}")
        fill_mask = idx == -1
    else:
        idx[idx < 0] += n
        fill_mask = np.zeros(idx.size, dtype=bool)
    oob = (~fill_mask) & ((idx < 0) | (idx >= n))
    if np.any(oob):
        raise IndexError(f"{int(idx[oob][0])} out of bounds")
    return idx, fill_mask


def take_any(
    codec: str,
    payload,
    n: int,
    indices,
    allow_fill: bool = False,
    fill_value: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Reference-complete take over one int block: arbitrary index order,
    negative-index wrapping, and ``allow_fill`` (-1 → ``fill_value``) —
    the full contract of the reference's ``take``
    (`/root/reference/rle_array/_algorithms.py:422-481`,
    tests/test_algorithms.py test_take_no_fill_*/test_take_fill_*).
    Sorted no-fill indices delegate to :func:`take_runs` (run-reuse, the
    DF hot path); otherwise values gather per index — RLE via one
    searchsorted on run ends, DICT in the code domain — and re-run-split.
    Returns (run_values int32, run_lengths int64)."""
    idx, fill_mask = normalize_take_indices(indices, n, allow_fill)
    if idx.size == 0:
        return np.zeros(0, np.int32), np.zeros(0, np.int64)
    if not fill_mask.any():
        if not np.any(np.diff(idx) < 0):
            return take_runs(codec, payload, n, idx)
    if n == 0:  # only reachable as an all-fill take
        vals = np.full(idx.size, fill_value, dtype=np.int32)
    else:
        gather_idx = np.where(fill_mask, 0, idx)
        if codec == "rle":
            rv, rl = decode_runs(payload)
            ends = np.cumsum(rl)
            vals = rv[np.searchsorted(ends, gather_idx, side="right")]
        elif codec == "dict":
            table, codes = _dict_parts(payload, n)
            vals = table.astype(np.int32)[codes[gather_idx]]
        elif codec == "raw":
            vals = np.frombuffer(payload, dtype="<i4", count=n)[
                gather_idx
            ].astype(np.int32)
        else:
            vals = CODECS[codec].decode(payload, n)[gather_idx]
        if fill_mask.any():
            vals = vals.copy()
            vals[fill_mask] = fill_value
    v, lens = split_runs(np.ascontiguousarray(vals.astype(np.int32, copy=False)))
    return v.astype(np.int32, copy=False), lens


def value_counts_block(
    codec: str, payload, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block value histogram computed FROM THE PAYLOAD — the
    compressed-domain form of the reference's ``value_counts``
    (pandas fallback in the reference; here a payload kernel so the
    relational combine only shuffles (value, partial_count) pairs):

    * rle: unique over RUN VALUES weighted by run lengths — O(runs).
    * dict: bincount over the CODE stream — values never touched, counts
      keyed by the table.
    * other codecs: decode + unique.

    Returns (values int32 ascending, counts int64)."""
    if n == 0:
        return np.zeros(0, np.int32), np.zeros(0, np.int64)
    if codec == "rle":
        vals, lens = decode_runs(payload)
        uniq, inv = np.unique(vals, return_inverse=True)
        counts = np.bincount(inv, weights=lens.astype(np.float64)).astype(np.int64)
        return uniq.astype(np.int32, copy=False), counts
    if codec == "dict":
        table, codes = _dict_parts(payload, n)
        counts = np.bincount(codes, minlength=table.size).astype(np.int64)
        used = counts > 0
        order = np.argsort(table[used], kind="stable")
        return (
            table[used][order].astype(np.int32, copy=False),
            counts[used][order],
        )
    vals = CODECS[codec].decode(payload, n)
    uniq, counts = np.unique(vals, return_counts=True)
    return uniq.astype(np.int32, copy=False), counts.astype(np.int64)


def sort_block(
    codec: str, payload, n: int, descending: bool = False
) -> tuple[str, bytes]:
    """Sorted copy of one encoded block, computed ENTIRELY from its
    histogram: sorted RLE IS (values ascending, lengths = counts), so the
    sort never materializes the sequence — O(runs log runs) for RLE,
    bincount for DICT (the reference sorts via the pandas extension
    machinery's decode path, conftest data_for_sorting fixtures; this is
    the compressed-domain upgrade). Returns (codec, payload) with
    new length == n."""
    vals, counts = value_counts_block(codec, payload, n)
    if descending:
        vals, counts = vals[::-1].copy(), counts[::-1].copy()
    payload_out = encode_runs(vals, counts)
    if n and len(payload_out) > 4 * n + 1:  # never worse than raw
        from rle_array_spark.chooser import choose_codec

        return choose_codec(np.repeat(vals, counts))
    return "rle", payload_out
