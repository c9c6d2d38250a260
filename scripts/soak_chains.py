"""Randomized differential soak for the fused-chain family (kernel level).

Each iteration draws random data (runs/zipf/narrow/empty regimes), a random
codec, and a random operator chain, then checks:

* token: transform_block_stats with the fused composed map decodes exactly like
  the stepwise hops AND like numpy on the raw values;
* typed: transform_typed fused vs stepwise, bit-equal on live slots,
  validity preserved (random null masks, int64 + float64);
* typed zip post: zip_typed_blocks(post_fn=...) vs zip-then-transform.

Operands are drawn from bounded sets so no arm overflows int32 on the token
side (the chain contract difference — intermediate overflow acceptance — is
pinned separately in tests/test_transform.py).

Usage: python scripts/soak_chains.py [seconds]   (default 240)
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rle_array_spark.codecs import CODECS, decode_block, encode_block
from rle_array_spark.codecs.transform import transform_block_stats
from rle_array_spark.codecs.typed import decode_typed, encode_typed
from rle_array_spark.codecs.typed_zip import transform_typed, zip_typed_blocks
from rle_array_spark.engine import TRANSFORM_OPS
from rle_array_spark.typed import _resolve_typed_chain

TOKEN_STEPS = [
    ("add", lambda r: int(r.integers(0, 1000))),
    ("mul", lambda r: int(r.integers(0, 4))),
    ("sub_floor", lambda r: int(r.integers(0, 1000))),
    ("floordiv", lambda r: int(r.integers(1, 9))),
    ("mod", lambda r: int(r.integers(1, 997))),
    ("bitand", lambda r: int(r.integers(0, 0xFFFF))),
    ("bitor", lambda r: int(r.integers(0, 0xFFFF))),
    ("bitxor", lambda r: int(r.integers(0, 0xFFFF))),
]

TYPED_STEPS = [
    ("neg", lambda r: None),
    ("abs", lambda r: None),
    ("invert", lambda r: int(r.integers(-50, 50))),  # operand ignored
    ("add", lambda r: int(r.integers(-50, 50))),
    ("mul", lambda r: int(r.integers(-3, 3))),
    ("sub", lambda r: int(r.integers(-50, 50))),
    ("rsub", lambda r: int(r.integers(-50, 50))),
    ("min", lambda r: int(r.integers(-100, 100))),
    ("max", lambda r: int(r.integers(-100, 100))),
]


def rand_tokens(rng: np.random.Generator) -> np.ndarray:
    kind = rng.integers(0, 4)
    n = int(rng.integers(0, 400))
    if kind == 0:
        return rng.integers(0, 4, n).astype(np.int32)
    if kind == 1:
        return rng.integers(0, 65536, n).astype(np.int32)
    if kind == 2:
        pairs = int(rng.integers(0, 40))
        return np.repeat(
            rng.integers(0, 100, pairs).astype(np.int32),
            rng.integers(1, 50, pairs),
        )
    return np.array([], dtype=np.int32)


def token_iter(rng: np.random.Generator) -> None:
    arr = rand_tokens(rng)
    codec = str(rng.choice(sorted(CODECS)))
    k = int(rng.integers(1, 5))
    steps = []
    for _ in range(k):
        op, draw = TOKEN_STEPS[int(rng.integers(0, len(TOKEN_STEPS)))]
        steps.append((op, draw(rng)))
    payload = encode_block(arr, codec)
    fns = [(TRANSFORM_OPS[op][0], kk) for op, kk in steps]

    def fused(v):
        v = np.asarray(v, dtype=np.int64)
        for f, kk in fns:
            v = f(v, kk)
        return v

    c_f, p_f = transform_block_stats(codec, payload, arr.size, fused)[:2]
    c_s, p_s = codec, payload
    for f, kk in fns:
        c_s, p_s = transform_block_stats(
            c_s, p_s, arr.size, lambda v, _f=f, _k=kk: _f(v.astype(np.int64), _k)
        )[:2]
    out_f = decode_block(p_f, c_f, arr.size)
    np.testing.assert_array_equal(out_f, decode_block(p_s, c_s, arr.size))
    np.testing.assert_array_equal(out_f, fused(arr).astype(np.int32))


def rand_typed(rng: np.random.Generator):
    n = int(rng.integers(0, 300))
    if rng.integers(0, 2):
        vals = np.repeat(
            rng.integers(-1000, 1000, n // 5 + 1), 5
        )[:n].astype(np.int64)
    else:
        vals = np.round(rng.normal(0, 100, n), 1)
    valid = None
    if n and rng.random() < 0.5:
        valid = rng.random(n) > 0.25
        if valid.all():
            valid = None
    return np.ascontiguousarray(vals), valid


def draw_typed_steps(rng: np.random.Generator, is_float: bool):
    k = int(rng.integers(1, 5))
    steps = []
    for _ in range(k):
        op, draw = TYPED_STEPS[int(rng.integers(0, len(TYPED_STEPS)))]
        if op == "invert":
            if is_float:
                continue  # floats raise on invert by contract
            steps.append((op, None))
        else:
            steps.append((op, draw(rng) if op not in ("neg", "abs") else None))
    return steps or [("abs", None)]


def typed_iter(rng: np.random.Generator) -> None:
    vals, valid = rand_typed(rng)
    codec = str(rng.choice(["trle", "tdict", "traw", "auto"]))
    steps = draw_typed_steps(rng, vals.dtype.kind == "f")
    name, payload = encode_typed(vals, valid, codec)
    fused_fn, _ = _resolve_typed_chain(steps)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        c_f, p_f = transform_typed(name, payload, vals.size, fused_fn)
        c_s, p_s = name, payload
        for step in steps:
            from rle_array_spark.typed import _resolve_typed_op

            f, _ = _resolve_typed_op(*step) if isinstance(step, tuple) else (step, None)
            c_s, p_s = transform_typed(c_s, p_s, vals.size, f)
    out_f, valid_f = decode_typed(c_f, memoryview(p_f), vals.size)
    out_s, valid_s = decode_typed(c_s, memoryview(p_s), vals.size)
    live = valid if valid is not None else np.ones(vals.size, dtype=bool)
    assert np.array_equal(
        np.asarray(out_f)[live], np.asarray(out_s)[live], equal_nan=True
    )
    np.testing.assert_array_equal(
        valid_f if valid_f is not None else np.ones(vals.size, bool),
        valid_s if valid_s is not None else np.ones(vals.size, bool),
    )


def zip_post_iter(rng: np.random.Generator) -> None:
    n = int(rng.integers(0, 200))
    a = np.repeat(rng.integers(-40, 40, n // 4 + 1), 4)[:n].astype(np.int64)
    b = np.repeat(rng.integers(-40, 40, n // 6 + 1), 6)[:n].astype(np.int64)
    va = rng.random(n) > 0.2 if n and rng.random() < 0.5 else None
    vb = rng.random(n) > 0.2 if n and rng.random() < 0.5 else None
    if va is not None and va.all():
        va = None
    if vb is not None and vb.all():
        vb = None
    ca, pa_ = encode_typed(a, va, "auto")
    cb, pb_ = encode_typed(b, vb, "auto")
    steps = draw_typed_steps(rng, False)
    fused_fn, _ = _resolve_typed_chain(steps)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        c_f, p_f = zip_typed_blocks(ca, pa_, cb, pb_, n, "add", post_fn=fused_fn)
        c_z, p_z = zip_typed_blocks(ca, pa_, cb, pb_, n, "add")
        c_s, p_s = c_z, p_z
        from rle_array_spark.typed import _resolve_typed_op

        for step in steps:
            f, _ = _resolve_typed_op(*step)
            c_s, p_s = transform_typed(c_s, p_s, n, f)
    assert (c_f, p_f) == (c_s, p_s)  # byte-identical by construction


def main() -> int:
    budget = float(sys.argv[1]) if len(sys.argv) > 1 else 240.0
    rng = np.random.default_rng(20260818)
    t0 = time.time()
    iters = 0
    while time.time() - t0 < budget:
        token_iter(rng)
        typed_iter(rng)
        zip_post_iter(rng)
        iters += 1
        if iters % 500 == 0:
            print(f"{iters} iterations, {time.time() - t0:.0f}s", flush=True)
    print(
        f"SOAK PASS: {iters} iterations x 3 checks in {time.time() - t0:.0f}s, "
        "0 mismatches"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
