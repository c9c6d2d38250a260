"""Measurement from outside the package: spans, Spark stage metrics read
from the status REST endpoint, process memory from /proc, and the per-layer
probes of the traced run. Nothing here changes what the package does; each
probe times calls into one module's public functions."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
import urllib.request
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

CODEC_NAMES = ("rle", "dict", "for", "bitpack", "ngram")
PICKED_CODECS = ("raw",) + CODEC_NAMES
DRIVER_REPS = 3

# per-layer name -> (stage field, scale to the reported unit, unit)
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3, "s"),
    "executor_cpu_s": ("executorCpuTime", 1e-9, "s"),
    "jvm_gc_s": ("jvmGcTime", 1e-3, "s"),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1, "bytes"),
    "shuffle_read_bytes": ("shuffleReadBytes", 1, "bytes"),
    "spill_bytes": ("memoryBytesSpilled", 1, "bytes"),
    "peak_exec_mem_bytes": ("peakExecutionMemory", 1, "bytes"),
}


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    when the run ends. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Processes
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(VmHWM of the JVM, summed VmHWM of the Python workers under it)."""
    workers = sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid))
    return _status_kb(jvm_pid, "VmHWM") / 1024.0, workers / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for each
    to end, so that no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Spark stage metrics (status REST endpoint, per job group)
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics(sc, groups: dict[str, list[str]]) -> dict[str, dict[str, float]]:
    """op -> stage metrics per job group (mean over the op's groups). Sums
    over the stages of the group's jobs; ``peak_exec_mem_bytes`` is the
    largest stage's peakExecutionMemory."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    wanted = {g for gs in groups.values() for g in gs}
    deadline = time.monotonic() + 15
    while True:  # the status store trails job completion by a listener hop
        jobs = [j for j in _get(base + "/jobs") if j.get("jobGroup") in wanted]
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, list[dict]] = {}
    for st in _get(base + "/stages"):
        stages.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict[str, float]] = {}
    for op, names in groups.items():
        per_group = []
        for g in names:
            ids = {s for j in jobs if j.get("jobGroup") == g for s in j["stageIds"]}
            attempts = [a for s in ids for a in stages.get(s, [])]
            rec = {}
            for metric, (field, scale, _unit) in STAGE_FIELDS.items():
                vals = [a.get(field, 0) * scale for a in attempts]
                rec[metric] = max(vals, default=0) if metric == "peak_exec_mem_bytes" else sum(vals)
            per_group.append(rec)
        out[op] = {m: statistics.fmean(r[m] for r in per_group) for m in STAGE_FIELDS}
    return out


# ---------------------------------------------------------------------------
# Driver-side probes over a fixed row sample
# ---------------------------------------------------------------------------

def _median_time(fn, reps: int = DRIVER_REPS):
    times, result = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def sample_token_rows(sample: pa.Table) -> list[np.ndarray]:
    tokens = sample["tokens"].combine_chunks()
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.int32)
    return [flat[offsets[i]:offsets[i + 1]] for i in range(len(offsets) - 1)]


def probe_chooser_and_codecs(rows: list[np.ndarray], tracer: Tracer, check) -> dict:
    """Chooser rate over the sample, then each codec on the rows the chooser
    gave it (on every sample row when it got none, so that each codec is
    always measured). ``kernel.decode_tok_per_s`` is the decode rate of the
    chooser's own mix: sample tokens over the summed per-codec decode time."""
    from rle_array_spark.chooser import choose_codec_batch
    from rle_array_spark.codecs import decode_block, encode_block

    tokens = sum(r.size for r in rows)
    with tracer.span("chooser.choose_codec_batch", rows=len(rows), tokens=tokens):
        t, chosen = _median_time(lambda: choose_codec_batch(rows))
    out = {"chooser.tok_per_s": (tokens / t, "tok/s")}
    mix_decode_s = 0.0
    for codec in CODEC_NAMES:
        picked = [r for r, (name, _) in zip(rows, chosen) if name == codec]
        probe = picked or rows
        n = sum(r.size for r in probe)
        with tracer.span(f"codecs.{codec}.encode", rows=len(probe), tokens=n):
            t_enc, payloads = _median_time(lambda: [encode_block(r, codec) for r in probe])
        with tracer.span(f"codecs.{codec}.decode", rows=len(probe), tokens=n):
            t_dec, decoded = _median_time(
                lambda: [decode_block(p, codec, r.size) for p, r in zip(payloads, probe)]
            )
        check(all(np.array_equal(a, b) for a, b in zip(decoded, probe)), f"codecs.{codec} round trip")
        if picked:
            mix_decode_s += t_dec
        out[f"codecs.{codec}.encode_tok_per_s"] = (n / t_enc, "tok/s")
        out[f"codecs.{codec}.decode_tok_per_s"] = (n / t_dec, "tok/s")
        out[f"codecs.{codec}.bytes_per_raw_byte"] = (sum(map(len, payloads)) / (4 * n), "ratio")
    out["kernel.decode_tok_per_s"] = (tokens / mix_decode_s, "tok/s")
    return out


def probe_value_families(rows: list[np.ndarray], tracer: Tracer, check) -> dict:
    """The typed (double) and string codec families, on the columns the
    multi-column workload derives from tokens: tokens / 7.0 and
    't' + tokens % 5."""
    from rle_array_spark.codecs.strings import decode_strings_arrow, encode_string_block
    from rle_array_spark.codecs.typed import decode_typed, encode_typed

    tags = pa.array([f"t{i}" for i in range(5)])
    doubles = [r.astype(np.float64) / 7.0 for r in rows]
    strings = [tags.take(pa.array(r % 5)) for r in rows]
    n = sum(r.size for r in rows)
    out = {}

    with tracer.span("codecs.typed.encode", values=n):
        t_enc, enc = _median_time(lambda: [encode_typed(v) for v in doubles])
    with tracer.span("codecs.typed.decode", values=n):
        t_dec, dec = _median_time(
            lambda: [decode_typed(name, p, v.size)[0] for (name, p), v in zip(enc, doubles)]
        )
    check(all(np.array_equal(a, b) for a, b in zip(dec, doubles)), "codecs.typed round trip")
    out["codecs.typed.encode_tok_per_s"] = (n / t_enc, "values/s")
    out["codecs.typed.decode_tok_per_s"] = (n / t_dec, "values/s")
    out["codecs.typed.bytes_per_raw_byte"] = (sum(len(p) for _, p in enc) / (8 * n), "ratio")

    raw = sum(int(pc.sum(pc.binary_length(s)).as_py() or 0) + 4 * len(s) for s in strings)
    with tracer.span("codecs.strings.encode", values=n):
        t_enc, enc = _median_time(lambda: [encode_string_block(s) for s in strings])
    with tracer.span("codecs.strings.decode", values=n):
        t_dec, dec = _median_time(
            lambda: [decode_strings_arrow(name, p, len(s)) for (name, p), s in zip(enc, strings)]
        )
    check(all(a.equals(b) for a, b in zip(dec, strings)), "codecs.strings round trip")
    out["codecs.strings.encode_tok_per_s"] = (n / t_enc, "values/s")
    out["codecs.strings.decode_tok_per_s"] = (n / t_dec, "values/s")
    out["codecs.strings.bytes_per_raw_byte"] = (sum(len(p) for _, p in enc) / raw, "ratio")
    return out


# ---------------------------------------------------------------------------
# Lineage-derived writer figures
# ---------------------------------------------------------------------------

def lineage_balance(lineage: list[dict]) -> tuple[float, float]:
    """(max/mean partition tokens, max/median partition wall time)."""
    toks = [r["n_tokens"] for r in lineage]
    walls = [r["wall_ms"] for r in lineage]
    mean_tok = statistics.fmean(toks) if toks else 0
    med_wall = statistics.median(walls) if walls else 0
    return (
        max(toks) / mean_tok if mean_tok else 1.0,
        max(walls) / med_wall if med_wall else 1.0,
    )
