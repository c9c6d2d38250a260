"""Codec kernel interface + shared helpers.

Every codec encodes a 1-D non-negative ``int32`` token array into a
self-describing ``bytes`` payload and decodes it back bit-identically
(round-trip contract mirroring the reference's compress/decompress pair,
/root/reference/rle_array/_algorithms.py:28-59,117-152).

Payload layouts are little-endian and fully self-contained (all widths,
bases and symbol/dict tables live inside the payload), so a block row
``(codec: string, payload: binary, n_values: int)`` is decodable with no
side-channel state — a hard requirement for distributed decode where any
executor must decode any block.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

TOKEN_DTYPE = np.dtype("<i4")  # logical element type of the `tokens` column


class PerformanceWarning(UserWarning):
    """A kernel fell back to full decode where a compressed-domain path
    exists for other codecs — the reference's loud-slow-path contract
    (/root/reference/rle_array/array.py:439,695; escalated to an error in
    its tests/test_fastpath.py:6). Fast paths must never emit this."""


@dataclass(frozen=True)
class BlockStats:
    """Per-array statistics driving the analytic codec cost model.

    Mirrors the statistics the reference derives from its encoded form:
    run count (``calc_lengths``), cardinality (``unique`` on run values,
    /root/reference/rle_array/array.py:918-923), min/max
    (/root/reference/rle_array/array.py:502-513,556-567).

    ``uniq`` (the sorted distinct values) rides along so the DICT codec can
    reuse it instead of re-sorting; it is excluded from equality.
    """

    n: int
    n_runs: int
    cardinality: int
    vmin: int  # 0 for empty arrays
    vmax: int  # 0 for empty arrays
    uniq: np.ndarray | None = field(default=None, compare=False, repr=False)

    @property
    def raw_bytes(self) -> int:
        return self.n * TOKEN_DTYPE.itemsize


# Above this many runs, cardinality is estimated from a sample instead of an
# exact sort — it only feeds the codec *ranking*; the trial encode measures
# the real size, so a rough estimate can never corrupt data, only slightly
# misrank borderline candidates.
EXACT_CARDINALITY_MAX_RUNS = 32768
_CARD_SAMPLE = 2048


def _estimate_cardinality(run_values: np.ndarray, vmin: int, vmax: int) -> int:
    step = max(1, run_values.size // _CARD_SAMPLE)
    sample = run_values[::step]
    u, counts = np.unique(sample, return_counts=True)
    d = int(u.size)
    f1 = int(np.count_nonzero(counts == 1))
    f2 = int(np.count_nonzero(counts == 2))
    chao1 = d + (f1 * f1) / (2.0 * max(f2, 1))  # Chao1 lower-bound estimator
    return int(min(max(chao1, d), vmax - vmin + 1, run_values.size))


def compute_stats(values: np.ndarray) -> BlockStats:
    """Vectorized stats over one token array.

    Cardinality is computed on *run values*, not raw values — identical
    result (adjacent duplicates add nothing to the distinct set) but the
    sort shrinks with the run count, exactly the reference's unique-on-runs
    optimization (/root/reference/rle_array/array.py:918-923). Very large
    high-run-count blocks use a sampled Chao1 estimate instead of an exact
    sort (see EXACT_CARDINALITY_MAX_RUNS)."""
    n = int(values.size)
    if n == 0:
        return BlockStats(n=0, n_runs=0, cardinality=0, vmin=0, vmax=0)
    # Run boundaries: value change between adjacent slots
    # (reference `detect_changes`, _algorithms.py:155-171; tokens are non-null
    # so the null==null special case collapses to plain inequality).
    change = values[1:] != values[:-1]
    n_runs = 1 + int(np.count_nonzero(change))
    if n_runs == n:
        run_values = values
    else:
        run_values = np.concatenate((values[:1], values[1:][change]))
    if n_runs <= EXACT_CARDINALITY_MAX_RUNS:
        uniq = np.unique(run_values)
        return BlockStats(
            n=n,
            n_runs=n_runs,
            cardinality=int(uniq.size),
            vmin=int(uniq[0]),
            vmax=int(uniq[-1]),
            uniq=uniq,
        )
    vmin = int(run_values.min())
    vmax = int(run_values.max())
    return BlockStats(
        n=n,
        n_runs=n_runs,
        cardinality=_estimate_cardinality(run_values, vmin, vmax),
        vmin=vmin,
        vmax=vmax,
        uniq=None,
    )


def check_tokens(values: np.ndarray) -> np.ndarray:
    """Normalize input to a contiguous int32 array; reject negatives."""
    v = np.ascontiguousarray(values)
    if v.dtype != np.int32:
        v = v.astype(np.int32)
    if v.size and int(v.min()) < 0:
        raise ValueError("token values must be non-negative int32")
    return v


class Codec:
    """Base codec. Subclasses set ``name`` and implement the three kernels."""

    name: str = "?"

    def encode(self, values: np.ndarray) -> bytes:
        raise NotImplementedError

    def decode(self, payload: bytes | memoryview, n: int) -> np.ndarray:
        raise NotImplementedError

    def estimate_size(self, stats: BlockStats) -> int | None:
        """Analytic payload-size estimate from stats; None = not estimable
        (the chooser then requires a trial encode, cf. the reference's
        measured-ratio approach in autoconversion.py:93-99)."""
        return None


_STRUCT_CODES = {"|u1": "B", "<u4": "I", "<i8": "q"}


def struct_format(header: np.dtype) -> str:
    """The ``struct`` format of a packed little-endian header record. A
    codec declares its header once, as the structured dtype batch readers
    view (codecs/vdecode.py), and packs single headers with this format."""
    return "<" + "".join(_STRUCT_CODES[header.fields[f][0].str] for f in header.names)


def _read_struct(fmt: str, buf: memoryview, offset: int):
    size = struct.calcsize(fmt)
    return struct.unpack_from(fmt, buf, offset), offset + size
