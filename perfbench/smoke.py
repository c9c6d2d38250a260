#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny corpus size, run from the root of a
checkout:

    python3 perfbench/smoke.py

Runs every workload untraced and traced for one second each and asserts
that each metric BENCHMARK.json names is emitted with its unit, that every
check passed (no failed op, success_rate 1) and that the run exited 0.
Takes about a minute per run; the two giant sequences keep their full
length at any scale, so chunking and reassembly are exercised too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.05"


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--scale", SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl, trace)
            label = f"{wl} trace={trace}"
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (label, res)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (label, set(want) ^ set(got))
            if trace == 0:
                assert res["metrics"]["success_rate"]["value"] == 1.0, label
            print(f"ok {label}: {len(got)} metrics, {res['attempted']} ops", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
