#!/usr/bin/env python3
"""Seeded write / resume / read benchmark of the checkpointed encoded-table
writer, run from the root of a checkout:

    python3 perfbench/run.py --workload mixed-docs --seed 1 --seconds 10 --trace 0

One process. A timed cold set-up (JVM launch included), then, on that
``local[nproc]`` session, write -> resume -> read cycles for
``--seconds``, with every output checked (round trip, all-skipped resume,
snapshot version, byte-identical data files). The last stdout line is one
JSON object; ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones. Everything the run writes (corpus cache, Spark
scratch, outputs, results, spans) stays under ``perfbench/_work``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = ("mixed-docs", "multi-column")
OPS = ("write", "resume", "read")
# Untimed warm-up cycles (write, resume, read, each checked, then the
# per-doc verify join after the first): the first ops of a session pay plan
# compilation, JIT and the workers' imports of the writer and reader
# modules (a cold first write measured 3-4x a warm one, a cold first read
# 1.5x), and the cycle after that still ran 10-25% slower than later ones.
WARM_CYCLES = 2
MIN_CYCLES = 4
DRIVER_MEMORY = "2g"
SAMPLE_PER_SOURCE = 64


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor (the smoke test uses a small one)")
    args = p.parse_args()
    if args.seed < 0:
        p.error("--seed must be >= 0")
    return args


def take_stdout():
    """Point fd 1 at stderr for this process and every child (the JVM and
    the Python workers print there), keeping the real stdout for results."""
    sys.stdout.flush()
    result = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return result


def prepare_env() -> None:
    """Import the package and bench.py from this checkout only, and keep
    every file Spark or Python writes inside the work directory."""
    for need in ("rle_array_spark/__init__.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}; run from a full checkout")
            sys.exit(2)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # No console progress bars: they would interleave with the log on stderr.
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def filesystem(path: str) -> str:
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, kind = line.split()[1:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, kind
    return fs


class Ledger:
    """Ops attempted and failed; a failed check or an exception fails an op."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            log(f"FAILED: {what}")
        return ok


class Workload:
    """The product path one workload drives: writer, reader, column set."""

    def __init__(self, name: str, spark, path: str, meta: dict, parts: int):
        import corpus

        self.name = name
        self.spark = spark
        self.meta = meta
        self.parts = parts
        self.cols = corpus.COLUMNS[name]
        self.multi = len(self.cols) > 1
        self.chunked = name in corpus.WITH_GIANTS
        self.df = spark.read.parquet(path)

    def write(self, out: str) -> list[dict]:
        from rle_array_spark import tableio

        if self.multi:
            return tableio.encode_table_to_dir(self.df, list(self.cols), out, num_partitions=self.parts)
        return tableio.encode_to_dir(self.df, out, num_partitions=self.parts,
                                     chunk_tokens="auto" if self.chunked else None)

    def decoded(self, out: str):
        from rle_array_spark import engine, tableframe, tableio

        if self.multi:
            return tableframe.decode_table_df(tableio.read_table_blocks(self.spark, out), self.cols)
        return engine.decode_df(tableio.read_blocks(self.spark, out), reassemble_chunks=self.chunked)

    def checksum(self, df) -> tuple:
        """(rows, values per column..., XOR of per-doc xxhash64) — a JVM
        aggregate that consumes every decoded value."""
        from pyspark.sql import functions as F

        row = df.agg(
            F.count("*"),
            *[F.sum(F.size(c)) for c in self.cols],
            F.bit_xor(F.xxhash64("doc_id", *self.cols)),
        ).collect()[0]
        return tuple(int(v) for v in row)

    def doc_mismatches(self, out: str) -> int:
        """Docs whose decoded digest differs from (or is missing against)
        the generated input's."""
        from pyspark.sql import functions as F

        a = self.df.select("doc_id", F.xxhash64(*self.cols).alias("h_in"))
        b = self.decoded(out).select("doc_id", F.xxhash64(*self.cols).alias("h_out"))
        return a.join(b, "doc_id", "full_outer").where(
            "h_in IS NULL OR h_out IS NULL OR h_in != h_out"
        ).count()

    def data_files(self, out: str) -> list[str]:
        from rle_array_spark import tableio

        snap = tableio.read_snapshot(out)
        return [os.path.join(out, "blocks", f) for f in snap["files"]]

    def token_columns(self, out: str):
        """(codec names, value counts, payload lengths) of the tokens column
        over every committed data file."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        prefix = "tokens__" if self.multi else ""
        names = [prefix + c for c in ("codec", "n_values", "payload")]
        t = pa.concat_tables(pq.read_table(f, columns=names) for f in self.data_files(out))
        return (
            t[names[0]].to_pylist(),
            t[names[1]].to_numpy(),
            pc.binary_length(t[names[2]]).to_numpy(),
        )


def code_version() -> str:
    """Hash of the package sources and of the library versions that shape
    the file bytes. Committed files are compared across runs only under the
    same code: a change to a codec or the chooser rightly changes them."""
    import numpy
    import pyarrow
    import pyspark

    h = hashlib.sha256(f"{pyarrow.__version__} {numpy.__version__} {pyspark.__version__}".encode())
    pkg = os.path.join(ROOT, "rle_array_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, pkg).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def files_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cold_setup(cores: int, parts: int, tracer):
    """JVM launch, session and the first warm-up job: what a user pays on
    every job. Returns (spark, session seconds, total seconds)."""
    import bench

    from rle_array_spark import engine

    with tracer.span("setup"):
        t0 = time.perf_counter()
        spark = engine.session(app="perfbench", cores=cores, shuffle_partitions=parts,
                               driver_memory=DRIVER_MEMORY)
        t_session = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        bench.warm_workers(spark, cores)
        total = time.perf_counter() - t0
    return spark, t_session, total


def run_cycle(wl: Workload, out: str, expected: tuple, ledger: Ledger, tracer, group: str | None):
    """Write, resume and read into a fresh ``out``; returns their wall
    times and the writes' lineages, or None when an op raised."""
    from rle_array_spark import tableio

    sc = wl.spark.sparkContext
    shutil.rmtree(out, ignore_errors=True)
    times, lineages = {}, {}
    ops_left = len(OPS)
    try:
        for op in OPS:
            if group:
                sc.setJobGroup(f"{op}-{group}", op)
            with tracer.span(op, cycle=group):
                t0 = time.perf_counter()
                if op == "read":
                    got = wl.checksum(wl.decoded(out))
                else:
                    lineage = wl.write(out)
                times[op] = time.perf_counter() - t0
            ops_left -= 1
            if op == "read":
                ledger.check(got == expected, f"read checksum {got} != input {expected}")
                continue
            lineages[op] = lineage
            want = "encoded" if op == "write" else "skipped"
            version = tableio.read_manifest(out)["latest"]
            ledger.check(
                bool(lineage) and all(r["status"] == want for r in lineage)
                and version == (1 if op == "write" else 2),
                f"{op}: partitions not all {want} or snapshot version {version}",
            )
    except Exception:  # an op that raises is a failed op; the run goes on
        log(traceback.format_exc())
        for _ in range(ops_left):
            ledger.check(False, "op raised")
        return None
    finally:
        if group:
            sc.setJobGroup("", "")
    return times, lineages


def main() -> int:
    args = parse_args()
    result_out = take_stdout()
    prepare_env()

    import bench
    import corpus
    import layers

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    tracer = layers.Tracer(bool(args.trace), run_id)
    ledger = Ledger()

    t_run = time.perf_counter()
    phases: dict[str, float] = {}  # phase -> seconds since start, for budgeting

    def phase(name: str) -> None:
        phases[name] = time.perf_counter() - t_run

    cal_start = bench.calibrate()
    phase("calibrate")
    corpus_dir, meta = corpus.ensure(args.workload, args.seed, args.scale, WORK)
    phase("corpus")
    log(f"corpus {meta['key']}: {meta['docs']} docs, {meta['values']} values")

    cores = len(os.sched_getaffinity(0))
    parts = cores
    spark = None
    try:
        spark, t_session, setup_s = cold_setup(cores, parts, tracer)
        phase("setup")
        log(f"setup {setup_s:.3f}")
        measured = measure(args, spark, corpus_dir, meta, parts, tracer, ledger, phase)
    finally:
        if spark is not None:
            layers.stop_spark(spark)
        phase("stop")
    cal_end = bench.calibrate()
    phase("calibrate_end")
    if measured is None:
        return 1
    metrics, per_layer, cycles = measured
    metrics["setup_s"] = (setup_s, "s")
    metrics["success_rate"] = ((ledger.attempted - ledger.failed) / ledger.attempted, "ratio")
    drift = cal_end / cal_start
    if args.trace:
        per_layer["setup.session_s"] = (t_session, "s")
        per_layer["setup.warm_workers_s"] = (setup_s - t_session, "s")
        per_layer["box.drift_factor"] = (drift, "ratio")
        per_layer["trace.overhead_s"] = (tracer.overhead_s, "s")
        per_layer["trace.spans"] = (len(tracer.spans), "count")
    shown = per_layer if args.trace else metrics

    record = {
        "run": run_id, "args": vars(args), "corpus": meta,
        "setup_s": {"session": t_session, "total": setup_s}, "phases": phases,
        "cycles": [{k: v for k, v in c.items() if k != "lineage"} for c in cycles],
        "calibration": {"start_s": cal_start, "end_s": cal_end, "drift_factor": drift},
        "storage": {"work_dir": WORK, "filesystem": filesystem(WORK),
                    "holds": ["corpus", "spark-local (shuffle)", "outputs", "tmp"]},
        "errors": ledger.errors,
        "metrics": {k: v[0] for k, v in metrics.items()},
        "per_layer": {k: v[0] for k, v in per_layer.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(WORK, "results", run_id + ".spans.json"))
    for p in glob.glob(os.path.join(WORK, "out", "*")):
        shutil.rmtree(p, ignore_errors=True)

    log(f"cycles={len(cycles)} write/resume/read="
        f"{[[round(c[op], 3) for op in OPS] for c in cycles]} drift={drift:.3f} "
        f"phases={ {k: round(v, 1) for k, v in phases.items()} } errors={ledger.errors}")
    print(json.dumps({"run": run_id, "drift_factor": drift, "calibration_start_s": cal_start,
                      "calibration_end_s": cal_end, "cycles": len(cycles)}), file=result_out)
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }), file=result_out, flush=True)
    return 0


def measure(args, spark, corpus_dir: str, meta: dict, parts: int, tracer, ledger, phase):
    """Warm cycle, timed cycles and their checks, then the figures read off
    the committed output; returns (end-to-end, per-layer, cycles) or None
    when no cycle completed."""
    import corpus
    import layers

    wl = Workload(args.workload, spark, corpus_dir, meta, parts)
    if "checksum" not in meta:
        corpus.update_meta(WORK, meta, checksum=list(wl.checksum(wl.df)))
    expected = tuple(meta["checksum"])
    ledger.check(
        expected[:2] == (meta["docs"], meta["tokens"]),
        f"input checksum {expected} disagrees with the generated corpus",
    )

    # Warm-up cycles, checked but not timed, then timed cycles until
    # ``--seconds`` have passed and at least MIN_CYCLES ran.
    # The files also depend on the partition count, which follows nproc.
    code = f"{code_version()}-p{parts}"
    known = meta.get("files_digests", {})
    cycles = []
    t_measure = None
    while (t_measure is None or len(cycles) < WARM_CYCLES + MIN_CYCLES
           or time.perf_counter() - t_measure < args.seconds):
        c = len(cycles)
        timed = c >= WARM_CYCLES
        out = os.path.join(WORK, "out", f"c{c}")
        with tracer.span("cycle", cycle=c, timed=timed):
            res = run_cycle(wl, out, expected, ledger, tracer, str(c) if args.trace and timed else None)
        if res is None:
            break
        digest = files_digest(wl.data_files(out))
        if c == 0:
            with tracer.span("verify"):
                bad = wl.doc_mismatches(out)
            ledger.check(bad == 0, f"{bad} docs differ from the input")
            if code in known:
                ledger.check(digest == known[code], "data files differ from an earlier run of this code")
            else:
                corpus.update_meta(WORK, meta, files_digests={**known, code: digest})
        else:
            ledger.check(digest == cycles[0]["digest"], f"cycle {c} data files differ from cycle 0")
        cycles.append({**res[0], "digest": digest, "lineage": res[1], "out": out})
        if c == WARM_CYCLES - 1:
            phase("warm")
            t_measure = time.perf_counter()
    phase("measure")
    cycles = cycles[WARM_CYCLES:]
    if not cycles:
        log("no timed cycle completed")
        return None

    med = {op: statistics.median(c[op] for c in cycles) for op in OPS}
    last = cycles[-1]["out"]
    data_bytes = sum(os.path.getsize(p) for p in wl.data_files(last))
    codecs_col, n_values, payload_len = wl.token_columns(last)
    metrics = {
        "write_tok_per_s": (meta["values"] / med["write"], "values/s"),
        "resume_s": (med["resume"], "s"),
        "read_tok_per_s": (meta["values"] / med["read"], "values/s"),
        "stored_bytes_per_raw_byte": (data_bytes / meta["raw_bytes"], "ratio"),
        "payload_vs_ref_rle": (int(payload_len.sum()) / (12 * meta["token_runs"]), "ratio"),
    }
    per_layer = {}
    if args.trace:
        per_layer = traced_layers(wl, cycles, med, codecs_col, n_values, corpus_dir, tracer, ledger)
        phase("probes")
    jvm_mb, workers_mb = layers.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    metrics["peak_rss_mb"] = (jvm_mb + workers_mb, "MB")
    per_layer["mem.jvm_hwm_mb"] = (jvm_mb, "MB")
    per_layer["mem.workers_hwm_mb"] = (workers_mb, "MB")
    return metrics, per_layer, cycles


def timed_agg(tracer, name: str, df, *aggs):
    """Wall seconds of one aggregate over ``df`` (which forces every row
    through the layer under test), and the aggregate's row."""
    with tracer.span(name):
        t0 = time.perf_counter()
        row = df.agg(*aggs).collect()[0]
        return time.perf_counter() - t0, row


def encode_decode_probe(tracer, name: str, encode, decode, cols):
    """Times ``encode()`` forced by an aggregate, then ``decode`` over the
    same encoded rows, persisted first so that the decode time holds no
    encode. Returns (encode s, decode s, decoded values per column)."""
    from pyspark.sql import functions as F

    t_enc, _ = timed_agg(tracer, f"{name}.encode", encode(), F.count("*"))
    blocks = encode().persist()
    try:
        blocks.count()
        t_dec, row = timed_agg(tracer, f"{name}.decode", decode(blocks),
                               *[F.sum(F.size(c)) for c in cols])
    finally:
        blocks.unpersist()
    return t_enc, t_dec, [int(v) for v in row]


def traced_layers(wl: Workload, cycles, med, codecs_col, n_values, corpus_dir,
                  tracer, ledger) -> dict:
    """Per-layer metrics: Spark stage metrics of the timed ops, lineage
    balance, and probes that time one module's public functions each."""
    import corpus
    import layers

    from rle_array_spark import engine, tableframe

    spark = wl.spark
    m: dict[str, tuple[float, str]] = {}
    for op in OPS:
        m[f"trace.{op}_s"] = (med[op], "s")

    with tracer.span("stage_metrics"):
        t0 = time.perf_counter()
        groups = {op: [f"{op}-{i + WARM_CYCLES}" for i in range(len(cycles))] for op in OPS}
        stages = layers.stage_metrics(spark.sparkContext, groups)
        tracer.overhead_s += time.perf_counter() - t0
    for op, rec in stages.items():
        for name, value in rec.items():
            m[f"spark.{op}.{name}"] = (value, layers.STAGE_FIELDS[name][2])

    tokens = wl.meta["tokens"]
    tokens_df = wl.df.select("doc_id", "tokens", "n_tok", "source")
    t_encode, t_decode, got = encode_decode_probe(
        tracer, "engine", lambda: engine.encode_df(tokens_df), engine.decode_df, ["tokens"])
    ledger.check(got == [tokens], f"engine.decode_df gave {got} tokens")
    m["engine.encode_tok_per_s"] = (tokens / t_encode, "tok/s")
    m["engine.decode_tok_per_s"] = (tokens / t_decode, "tok/s")

    # Documents of 8-64 tokens: per-row Python on encode, and the grouped
    # vectorized reader on decode (batches below 64 tokens per block).
    short = spark.read.parquet(os.path.join(os.path.dirname(corpus_dir), "short.parquet"))
    t_enc, t_dec, got = encode_decode_probe(
        tracer, "short", lambda: engine.encode_df(short), engine.decode_df, ["tokens"])
    ledger.check(got == [wl.meta["short_tokens"]], f"short decode gave {got} tokens")
    m["short.encode_tok_per_s"] = (wl.meta["short_tokens"] / t_enc, "tok/s")
    m["short.decode_tok_per_s"] = (wl.meta["short_tokens"] / t_dec, "tok/s")

    cols = wl.cols
    values = wl.meta["values"]
    t_tf_encode, t_tf_decode, got = encode_decode_probe(
        tracer, "tableframe", lambda: tableframe.encode_table_df(wl.df, list(cols)),
        lambda b: tableframe.decode_table_df(b, cols), list(cols))
    ledger.check(sum(got) == values, f"tableframe.decode_table_df gave {sum(got)} values")
    m["tableframe.encode_tok_per_s"] = (values / t_tf_encode, "values/s")
    m["tableframe.decode_tok_per_s"] = (values / t_tf_decode, "values/s")

    write_encode = t_tf_encode if wl.multi else t_encode
    m["tableio.write_overhead_s"] = (med["write"] - write_encode, "s")
    m["tableio.blocks_per_doc"] = (len(codecs_col) / wl.meta["docs"], "ratio")
    balance = [layers.lineage_balance(c["lineage"]["write"]) for c in cycles]
    m["tableio.part_tokens.max_over_mean"] = (statistics.median(b[0] for b in balance), "ratio")
    m["tableio.part_wall.max_over_median"] = (statistics.median(b[1] for b in balance), "ratio")
    resumed = [r for c in cycles for r in c["lineage"]["resume"]]
    m["tableio.resume.skip_ratio"] = (
        sum(r["status"] == "skipped" for r in resumed) / len(resumed), "ratio")
    write_cpu = stages["write"]["executor_cpu_s"]
    m["tableio.resume.cpu_share"] = (
        stages["resume"]["executor_cpu_s"] / write_cpu if write_cpu else 0.0, "ratio")

    for codec in layers.PICKED_CODECS:
        picked = [i for i, c in enumerate(codecs_col) if c == codec]
        m[f"chooser.pick.{codec}.rows"] = (len(picked), "count")
        m[f"chooser.pick.{codec}.tokens"] = (int(n_values[picked].sum()) if picked else 0, "count")

    sample = corpus.sample_rows(corpus_dir, SAMPLE_PER_SOURCE)
    rows = layers.sample_token_rows(sample)
    m.update(layers.probe_chooser_and_codecs(rows, tracer, ledger.check))
    m.update(layers.probe_value_families(rows, tracer, ledger.check))

    # The Python/Arrow boundary: the share of the engine's core-seconds per
    # token that the single-thread kernels (chooser for encode, the
    # chooser's codec mix for decode) do not account for.
    cores = wl.parts  # one partition per core
    m["boundary.encode_share"] = (
        1 - tokens / (m["chooser.tok_per_s"][0] * cores * t_encode), "ratio")
    m["boundary.decode_share"] = (
        1 - tokens / (m["kernel.decode_tok_per_s"][0] * cores * t_decode), "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
