"""Benchmark harness — prints ONE JSON line with per-query seconds plus the
north-rule metrics: encode throughput (tokens/sec) at multiple parallelism
levels (the sandbox evidence for N→4N executor scaling), scaling efficiency,
and compression ratio vs the reference's analytic r×(4+8)-bytes RLE size.

Protocol notes (measured on this sandbox):
- the first Spark job in a session pays ~20 s of Python-worker spawn +
  imports at 32 workers → a warm-up job precedes every timed run;
- the VM's CPUs are memory-bandwidth/SMT-bound above ~8-16 active workers
  (a pure-numpy multiprocessing control shows per-process slowdown 0.7 s →
  1.8 s from 8 → 32 procs), so scaling efficiency is reported for both
  2→8 and 8→32 cores;
- each timed cell is best-of-N (3 at ≥8 cores) after an untimed warm run of
  both job shapes (the VM shows occasional 2-3× stalls, and the first
  corpus read pays cold page cache from the virtual disk).

Env knobs:
  SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1) — relational queries
  SPARK_GRAFT_CPUS     (default 32)                   — max parallelism
  RLE_BENCH_TOKENS_M   (default 240)                  — synthetic corpus size
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rle_array_spark import datagen  # noqa: E402
from rle_array_spark.engine import decode_stats_df, encode_df, session  # noqa: E402
from rle_array_spark.queries import build_queries  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TARGET_TOKENS_M = int(os.environ.get("RLE_BENCH_TOKENS_M", "240"))

ROWS_PER_SOURCE = 120
TOKENS_PER_BLOCK = 930_000  # empirical for ROWS_PER_SOURCE=120
N_BLOCKS = max(4, (TARGET_TOKENS_M * 1_000_000) // TOKENS_PER_BLOCK)
CORPUS_DIR = f"/tmp/rle_bench_corpus_b{N_BLOCKS}_r{ROWS_PER_SOURCE}"


def ensure_corpus(spark) -> None:
    if os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        return
    shutil.rmtree(CORPUS_DIR, ignore_errors=True)

    def gen(iterator):
        for batch in iterator:
            for block_id in batch.column("id").to_pylist():
                yield datagen.generate_block(int(block_id), ROWS_PER_SOURCE)

    (
        spark.range(N_BLOCKS)
        .repartition(CPUS * 2)
        .mapInArrow(gen, "doc_id string, tokens array<int>, n_tok int, source string")
        .write.mode("overwrite")
        .parquet(CORPUS_DIR)
    )


def warm_workers(spark, cores: int) -> None:
    """Force the Python worker pool to spawn + import the kernels so timed
    runs measure encode, not interpreter startup (workers are reused within
    a session: spark.python.worker.reuse)."""
    tiny = spark.range(cores * 4).selectExpr(
        "cast(id as string) doc_id",
        "array(1, 2, 2, 3) tokens",
        "4 n_tok",
        "'warm' source",
    )
    encode_df(tiny.repartition(cores * 2), codec="auto").count()


def encode_job(spark, num_partitions: int | None) -> dict:
    """Auto-encode of the corpus (salted-shuffle path when num_partitions is
    set, scan-parallel otherwise); returns totals (forces materialization)."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(CORPUS_DIR)
    blocks = encode_df(df, codec="auto", num_partitions=num_partitions)
    row = blocks.agg(
        F.sum("n_values").alias("toks"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("encoded_bytes").alias("enc"),
        F.sum(F.least("ref_rle_bytes", "raw_bytes")).alias("ref"),
    ).collect()[0]
    return {"tokens": row["toks"], "raw": row["raw"], "enc": row["enc"], "ref": row["ref"]}


SPREAD: dict[str, dict] = {}


def timed(fn, reps: int = 3, name: str | None = None) -> float:
    """min-of-reps (the VM shows occasional 2-3x stalls; min is the
    engine's cost, the spread is the weather). All samples are recorded in
    SPREAD so BENCH carries per-cell min/median and regressions are
    decidable across rounds."""
    samples = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        samples.append(time.monotonic() - t0)
    samples.sort()
    if name is not None:
        SPREAD[name] = {
            "min": round(samples[0], 3),
            "median": round(samples[len(samples) // 2], 3),
            "max": round(samples[-1], 3),
            "reps": reps,
        }
    return round(samples[0], 3)


SCALING_PARTITIONS = 128  # identical job plan at every parallelism level


def throughput_at(cores: int, reps: int = 2) -> tuple[float, float, dict]:
    """Best-of-reps wall time for the salted-shuffle and scan-parallel
    encode jobs at a given core count. The job (partition count, plan) is
    IDENTICAL at every level — only executor parallelism varies, which is
    the sandbox stand-in for N vs 4N executors."""
    spark = session(
        app=f"bench-local{cores}", cores=cores, shuffle_partitions=SCALING_PARTITIONS
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ensure_corpus(spark)
        warm_workers(spark, cores)
        # One untimed run of EACH job shape: the first salted run after boot
        # pays the cold page-cache read of the ~1 GB corpus from the VM's
        # virtual disk plus shuffle-path setup (measured 78s → 32s → 8s → 8s
        # back-to-back at local[32]); timing cold cells would grade disk
        # speed, not the encode engine.
        encode_job(spark, num_partitions=SCALING_PARTITIONS)
        encode_job(spark, num_partitions=None)
        totals: dict = {}
        best_salted = best_scan = float("inf")
        for _ in range(reps):
            t0 = time.monotonic()
            totals = encode_job(spark, num_partitions=SCALING_PARTITIONS)
            best_salted = min(best_salted, time.monotonic() - t0)
            t0 = time.monotonic()
            encode_job(spark, num_partitions=None)
            best_scan = min(best_scan, time.monotonic() - t0)
        return best_salted, best_scan, totals
    finally:
        spark.stop()


def calibrate() -> float:
    """Fixed single-thread numpy workload (sort + gather + reduce over 8M
    int64 — the kernel's op mix) timed min-of-3. Run at bench start AND
    end: the ratio is the box's drift during the run, letting a reader
    normalize absolute cell times across runs (this VM drifts 1.4-1.7×
    uniformly on a ~minutes timescale)."""
    import numpy as np

    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 20, size=8_000_000)
    best = 1e9
    for _ in range(3):
        t0 = time.monotonic()
        s = np.sort(x)
        idx = np.searchsorted(s, x[:1_000_000])
        best = min(best, time.monotonic() - t0)
        _ = int(idx.sum())
    return round(best, 3)


def main() -> None:
    queries: dict[str, float] = {}
    cal_start = calibrate()

    # --- scaling evidence: identical encode jobs, same input, varying cores ---
    # Two full cycles over the levels, per-cell best: the VM's throughput
    # drifts on a ~minutes timescale, so consecutive-level sessions sample
    # different "weather"; interleaving whole cycles decorrelates the
    # efficiency ratios from the drift.
    levels = sorted({2, 8, min(32, CPUS), CPUS})
    wall_best_salted: dict[int, float] = {}
    wall_best_scan: dict[int, float] = {}
    totals: dict = {}
    for _cycle in range(2):
        for cores in levels:
            # ≥8-core cells are cheap; 3 reps × 2 cycles = 6 samples per
            # level keeps the printed N→4N efficiency (the north-rule
            # criterion) from being hostage to one VM stall. The 2-core
            # cells get 2 reps/cycle (4 samples): with only 2, an unlucky
            # local[2] draw alone moves the 2→8 ratio by ±0.1.
            wall_salted, wall_scan, totals = throughput_at(
                cores, reps=2 if cores <= 2 else 3
            )
            wall_best_salted[cores] = min(
                wall_best_salted.get(cores, float("inf")), wall_salted
            )
            wall_best_scan[cores] = min(
                wall_best_scan.get(cores, float("inf")), wall_scan
            )
    thr_salted = {c: totals["tokens"] / w for c, w in wall_best_salted.items()}
    thr_scan = {c: totals["tokens"] / w for c, w in wall_best_scan.items()}
    for cores in levels:
        queries[f"encode_auto_salted_local{cores}"] = round(wall_best_salted[cores], 3)
        queries[f"encode_auto_scan_local{cores}"] = round(wall_best_scan[cores], 3)

    def eff(thr: dict[int, float], a: int, b: int):
        if a in thr and b in thr:
            return round((thr[b] / thr[a]) / (b / a), 3)
        return None

    eff_scan_2_8 = eff(thr_scan, 2, 8)
    eff_salted_2_8 = eff(thr_salted, 2, 8)
    eff_scan_8_32 = eff(thr_scan, 8, 32)
    eff_salted_8_32 = eff(thr_salted, 8, 32)

    # --- headline queries at full parallelism ---
    spark = session(app="bench", cores=CPUS, shuffle_partitions=CPUS * 4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        import pyspark.sql.functions as F

        warm_workers(spark, CPUS)
        df = spark.read.parquet(CORPUS_DIR)

        # forced-RLE encode (the reference's one codec, like-for-like rate)
        queries["encode_rle_scanparallel"] = timed(
            lambda: encode_df(df, codec="rle").agg(F.sum("encoded_bytes")).collect(),
            name="encode_rle_scanparallel",
        )

        # encode→decode→stats full pipeline (the flagship path)
        queries["encode_decode_stats"] = timed(
            lambda: decode_stats_df(encode_df(df, codec="auto"))
            .agg(F.sum("tok_sum"))
            .collect(),
            name="encode_decode_stats",
        )

        # decode-free metadata audit on a cached blocks table
        blocks_cached = encode_df(df, codec="auto").cache()
        blocks_cached.count()
        queries["audit_metadata_agg"] = timed(
            lambda: blocks_cached.groupBy("source", "codec")
            .agg(F.sum("encoded_bytes"), F.sum("tok_sum"))
            .collect(),
            name="audit_metadata_agg",
        )

        # compressed-domain gather A/B: take every 8th position via the
        # run-reuse kernel (RLE emitted directly, sum from output metadata)
        # vs decoding and gathering the same positions JVM-side
        from rle_array_spark.engine import take_blocks, decode_df

        queries["take_stride8_compressed"] = timed(
            lambda: take_blocks(blocks_cached, stride=8)
            .agg(F.sum("tok_sum"))
            .collect(),
            name="take_stride8_compressed",
        )
        queries["take_stride8_decode_gather"] = timed(
            lambda: decode_df(blocks_cached)
            .select(
                F.expr(
                    "aggregate(transform(tokens, (x, i) ->"
                    " IF(i % 8 = 0, cast(x as bigint), 0L)), 0L, (a, v) -> a + v)"
                ).alias("s")
            )
            .agg(F.sum("s"))
            .collect(),
            name="take_stride8_decode_gather",
        )

        # predicate-filter A/B — both arms produce the same artifact, a
        # FILTERED ENCODED corpus (x[x % 7 >= 3]) plus its token sum:
        # fused arm = filter_blocks_df evaluates the predicate in each
        # codec's value domain (no mask payload, no join, no chooser);
        # decode arm = decode → JVM filter → full re-encode. (The
        # join-based mask_blocks_df path measured 2.2 s here — the
        # fused kernel replaced it as the single-column filter default;
        # see BASELINE.md round-3 filter A/B.)
        from rle_array_spark.engine import filter_blocks_df

        queries["filter_fused_compressed"] = timed(
            lambda: filter_blocks_df(
                blocks_cached, [("mod", 7), ("floordiv", 3)]
            )
            .agg(F.sum("tok_sum"))
            .collect(),
            name="filter_fused_compressed",
        )

        def filter_decode_reencode_job():
            filtered = decode_df(blocks_cached).select(
                "doc_id",
                "source",
                F.expr("filter(tokens, x -> x % 7 >= 3)").alias("tokens"),
            )
            return (
                encode_df(filtered, codec="auto")
                .agg(F.sum("tok_sum"))
                .collect()
            )

        queries["filter_decode_reencode"] = timed(
            filter_decode_reencode_job, name="filter_decode_reencode"
        )

        # fused-chain A/B — 3-op scalar chain (x+7)*3 % 251 over the
        # cached encoded corpus: one kernel pass (transform_blocks_chain)
        # vs three transform_blocks hops (3.65x on the billion-token
        # corpus; BASELINE.md round-4)
        from rle_array_spark.engine import transform_blocks, transform_blocks_chain

        CHAIN = [("add", 7), ("mul", 3), ("mod", 251)]
        queries["chain_fused_3op"] = timed(
            lambda: transform_blocks_chain(blocks_cached, CHAIN)
            .agg(F.sum("tok_sum"))
            .collect(),
            name="chain_fused_3op",
        )

        def chain_stepwise_job():
            b = blocks_cached
            for _op, _k in CHAIN:
                b = transform_blocks(b, _op, _k)
            return b.agg(F.sum("tok_sum")).collect()

        queries["chain_stepwise_3op"] = timed(
            chain_stepwise_job, name="chain_stepwise_3op"
        )
        blocks_cached.unpersist()

        # whole-table checkpointed writer over a mixed int/double/string
        # frame (a deterministic 1/8 slice of the corpus: ~30 M tokens x 3
        # encoded columns + immutable-file commit machinery)
        from rle_array_spark.tableio import encode_table_to_dir

        mixed = (
            df.filter(F.crc32(F.col("doc_id")) % 8 == 0)
            .select(
                "doc_id",
                "source",
                "tokens",
                F.expr("transform(tokens, x -> cast(x as double) / 7.0)").alias("vals"),
                F.expr("transform(tokens, x -> concat('t', x % 5))").alias("tags"),
            )
        )

        def table_write_job():
            out_dir = "/tmp/rle_bench_tablewriter"
            shutil.rmtree(out_dir, ignore_errors=True)
            encode_table_to_dir(
                mixed, ["tokens", "vals", "tags"], out_dir,
                num_partitions=CPUS * 2, commit_mode="manifest",
            )

        queries["table_writer_mixed"] = timed(table_write_job, name="table_writer_mixed")

        # sequence packing: epoch-shuffle + fixed-length example assembly
        # over the whole corpus (packing.py; r5). Relational path — the
        # interleaved A/B winner over the mapInArrow kernel (BASELINE.md
        # "Round-5 sequence packing: relational vs kernel A/B")
        from rle_array_spark import packing as PK

        queries["pack_examples_seq512"] = timed(
            lambda: PK.pack_examples(df, seq_len=512, n_shards=CPUS * 2)
            .agg(F.count("*"), F.sum("n_pieces"))
            .collect(),
            name="pack_examples_seq512",
        )

        # relational queries on driver testdata
        q = build_queries()
        for name in (
            "groupby_agg_lineitem",
            "filter_pushdown_revenue",
            "window_shift_ffill",
            "roundtrip_auto",
            "cosine_pairs_lsh",
            # r4: pipeline + streaming visibility (end-to-end dedup at
            # production MinHash parameters; real structured-streaming
            # drain with stateful quantiles)
            "dedup_survivors",
            "stream_quantiles_parity",
        ):
            queries[name] = timed(lambda n=name: q[n](spark, SF_DIR).collect(), name=name)
    finally:
        spark.stop()

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "corpus_tokens": int(totals["tokens"]),
        "encode_throughput_tokens_per_sec": {
            "scan_parallel": {f"local[{c}]": int(t) for c, t in sorted(thr_scan.items())},
            "salted_shuffle": {f"local[{c}]": int(t) for c, t in sorted(thr_salted.items())},
        },
        "scaling_efficiency_2_to_8": {"scan_parallel": eff_scan_2_8, "salted_shuffle": eff_salted_2_8},
        "scaling_efficiency_8_to_32": {"scan_parallel": eff_scan_8_32, "salted_shuffle": eff_salted_8_32},
        "compression_ratio_vs_raw": round(totals["raw"] / totals["enc"], 3),
        "compression_ratio_vs_reference_rle": round(totals["ref"] / totals["enc"], 3),
        "queries_spread": SPREAD,
    }
    cal_end = calibrate()
    out["calibration"] = {
        "numpy_cell_start_s": cal_start,
        "numpy_cell_end_s": cal_end,
        "drift_factor": round(cal_end / cal_start, 3),
    }
    # The driver parses the LAST stdout line and its capture window is finite:
    # in round 3 the single line (grown by queries_spread) outran the tail
    # capture and recorded "parsed": null.  Keep the printed line compact
    # (~1.5 KB: metric + per-query seconds + headline throughput/scaling/
    # compression cells) and write the full record — spread stats,
    # calibration — to BENCH_FULL.json next to this script.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    try:
        with open(full_path, "w") as f:
            json.dump(out, f, indent=1)
    except OSError:
        pass
    compact = {k: v for k, v in out.items() if k not in ("queries_spread", "calibration")}
    compact["queries"] = {k: round(v, 3) for k, v in queries.items()}
    compact["spread_file"] = "BENCH_FULL.json"
    compact["drift_factor"] = out["calibration"]["drift_factor"]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 4000:
        # fail SAFE: the driver must always receive a parseable line — drop
        # the per-query detail (it lives in BENCH_FULL.json) rather than
        # risk the tail-capture truncation this split exists to prevent
        print(f"bench: metric line {len(line)}B >= 4KB, trimming queries", file=sys.stderr)
        compact["queries"] = {"trimmed": "see BENCH_FULL.json"}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
