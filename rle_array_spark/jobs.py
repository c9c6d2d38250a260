"""spark-submit entrypoints: encode / decode / verify / bench-corpus.

Usage (cluster):
    spark-submit --py-files rle_array_spark.zip -m rle_array_spark.jobs ...
Usage (local, same code path):
    python -m rle_array_spark.jobs encode --input DIR --output DIR \
        [--codec auto] [--threshold 1.0] [--partitions 128] [--salted]
    python -m rle_array_spark.jobs decode --blocks DIR --output DIR
    python -m rle_array_spark.jobs verify --input DIR --blocks DIR
    python -m rle_array_spark.jobs stream --input DIR --output DIR --checkpoint DIR

The encode job uses the checkpointed writer (tableio) when --salted is set
(deterministic partitions + lineage + resume); otherwise it writes encoded
blocks at scan parallelism via the plain DataFrame writer.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _session(args) -> SparkSession:
    from rle_array_spark.engine import session

    return session(app=f"rle-array-spark-{args.cmd}", cores=args.cores)


def cmd_encode(args) -> int:
    from rle_array_spark.engine import encode_df
    from rle_array_spark.tableio import encode_to_dir

    spark = _session(args)
    df = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(args.input)
    if args.salted:
        lineage = encode_to_dir(
            df,
            args.output,
            codec=args.codec,
            threshold=args.threshold,
            num_partitions=args.partitions,
            chunk_tokens=args.chunk_tokens,
            encode_first=not args.shuffle_first,
            commit_mode=args.commit_mode,
        )
        summary = {
            "partitions": len(lineage),
            "skipped": sum(1 for r in lineage if r["status"] == "skipped"),
            "rows": sum(r["n_rows"] for r in lineage),
            "tokens": sum(r["n_tokens"] for r in lineage),
            "raw_bytes": sum(r["raw_bytes"] for r in lineage),
            "encoded_bytes": sum(r["encoded_bytes"] for r in lineage),
        }
    else:
        chunk_tokens = args.chunk_tokens
        if chunk_tokens == "auto":
            from rle_array_spark.tableio import auto_chunk_tokens

            chunk_tokens = auto_chunk_tokens(df, args.partitions)
        blocks = encode_df(
            df, codec=args.codec, threshold=args.threshold, chunk_tokens=chunk_tokens
        )
        blocks.write.mode(args.mode).parquet(args.output)
        import pyspark.sql.functions as F

        row = spark.read.parquet(args.output).agg(
            F.count("*").alias("rows"),
            F.sum("n_values").alias("tokens"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        ).collect()[0]
        summary = {k: int(row[k]) for k in ("rows", "tokens", "raw_bytes", "encoded_bytes")}
    print(json.dumps({"job": "encode", **summary}))
    spark.stop()
    return 0


def _read_blocks_any(spark: SparkSession, path: str):
    """Accept either a plain parquet dir of block rows or a checkpointed
    writer dir (the thing ``encode --salted`` writes: blocks/ + lineage/
    or _manifest.json) — ``verify --blocks <the dir encode just wrote>``
    must work without the user knowing the layout."""
    import os

    if os.path.isdir(os.path.join(path, "blocks")):
        from rle_array_spark.tableio import read_blocks

        return read_blocks(spark, path)
    return spark.read.parquet(path)


def _has_chunks(blocks) -> bool:
    """Whether any block holds a chunk of a longer sequence (what an encode
    with ``--chunk-tokens`` writes, checkpointed or plain): such blocks
    decode to whole documents only with ``reassemble_chunks``."""
    import pyspark.sql.functions as F

    return not blocks.filter(F.col("n_chunks") > 1).isEmpty()


def cmd_decode(args) -> int:
    from rle_array_spark.engine import decode_df

    spark = _session(args)
    blocks = _read_blocks_any(spark, args.blocks)
    decode_df(blocks, reassemble_chunks=_has_chunks(blocks)).write.mode(args.mode).parquet(
        args.output
    )
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"job": "decode", "rows": int(n)}))
    spark.stop()
    return 0


def cmd_verify(args) -> int:
    from rle_array_spark.engine import verify_roundtrip

    spark = _session(args)
    df = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(args.input)
    blocks = _read_blocks_any(spark, args.blocks)
    mismatches = verify_roundtrip(df, blocks, reassemble_chunks=_has_chunks(blocks))
    print(json.dumps({"job": "verify", "mismatches": int(mismatches)}))
    spark.stop()
    return 0 if mismatches == 0 else 1


def cmd_stream(args) -> int:
    """Streaming surface behind one subcommand: --op selects the job.
    encode = continuous encode (exactly-once file-source checkpointing);
    stats / quantiles = encode + custom stateful operator
    (applyInPandasWithState running totals / exact running quartiles);
    dedup = cross-batch exact dedup (state store extends the seen-set
    across micro-batches and restarts); pack = continuous sequence
    packing (state store carries each shard's open example). All drain
    with availableNow and resume from --checkpoint."""
    from rle_array_spark import streaming

    spark = _session(args)
    if args.op == "encode":
        streaming.encode_stream(
            spark, args.input, args.output, args.checkpoint, codec=args.codec
        )
    elif args.op == "stats":
        streaming.running_source_stats_stream(
            spark, args.input, args.output, args.checkpoint, codec=args.codec,
            state_partitions=args.state_partitions,
        )
    elif args.op == "quantiles":
        streaming.running_quantiles_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            codec=args.codec,
            max_files_per_trigger=args.max_files_per_trigger,
            state_partitions=args.state_partitions,
        )
    elif args.op == "pack":
        streaming.pack_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            seq_len=args.seq_len,
            n_shards=args.shards,
            seed=args.seed,
            max_files_per_trigger=args.max_files_per_trigger,
            state_partitions=args.state_partitions,
        )
    else:  # dedup
        streaming.dedup_stream(spark, args.input, args.output, args.checkpoint)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"job": f"stream-{args.op}", "rows": int(n)}))
    spark.stop()
    return 0


def cmd_stats(args) -> int:
    """Compressed-domain analytics over a written blocks dir: per-source
    exact quartiles (histogram merge, tokens never decoded) and, with
    --contains, the docs containing a token (zone-map prune + occurrence
    counts) — the operational form of engine.source_quantiles_df /
    docs_containing_df."""
    from rle_array_spark.engine import docs_containing_df, source_quantiles_df
    from rle_array_spark.tableio import read_blocks

    spark = _session(args)
    blocks = read_blocks(spark, args.blocks) if args.lineage else spark.read.parquet(args.blocks)
    out: dict = {"job": "stats"}
    quants = source_quantiles_df(blocks).collect()
    out["quantiles"] = {
        r["source"]: {"n_toks": int(r["n_toks"]), "p25": r["p25"], "p50": r["p50"], "p75": r["p75"]}
        for r in quants
    }
    if args.contains is not None:
        hits = docs_containing_df(blocks, args.contains).collect()
        out["contains"] = {
            "token": args.contains,
            "docs": len(hits),
            "occurrences": int(sum(r["n_hits"] for r in hits)),
        }
    print(json.dumps(out))
    spark.stop()
    return 0


def cmd_transform(args) -> int:
    """Re-map an encoded corpus ON DISK without decode: read a blocks dir
    (plain parquet or checkpointed-writer layout), apply a fused
    ``TRANSFORM_OPS`` chain (one kernel pass however many steps), write
    the transformed blocks as a new parquet dir — value re-mapping of a
    stored corpus (clip, re-bucket, redact-by-mask) that never
    materializes a token."""
    from rle_array_spark.engine import transform_blocks_chain

    steps = []
    for spec in args.step:
        op, sep, k = spec.partition(":")
        if not sep:
            raise SystemExit(f"--step must be op:operand, got {spec!r}")
        steps.append((op, int(k)))
    spark = _session(args)
    blocks = _read_blocks_any(spark, args.blocks)
    transform_blocks_chain(blocks, steps).write.mode(args.mode).parquet(args.output)
    import pyspark.sql.functions as F

    row = (
        spark.read.parquet(args.output)
        .agg(F.count("*"), F.sum("tok_sum"), F.sum("encoded_bytes"))
        .collect()[0]
    )
    print(json.dumps({
        "job": "transform",
        "steps": args.step,
        "blocks": int(row[0]),
        "tok_sum": int(row[1] or 0),
        "encoded_bytes": int(row[2] or 0),
    }))
    spark.stop()
    return 0


def cmd_pack(args) -> int:
    """Epoch-pack a tokenized corpus into fixed-length training examples
    (packing.pack_examples: seeded deterministic shuffle → sharded
    streams → seq_len slices), then either write the packed examples as
    plain parquet or — with ``--encode`` — feed them straight into the
    checkpointed salted writer (encode_to_dir), so a crash mid-job
    resumes per partition exactly like the encode job. ``--seed`` is the
    epoch number: same corpus + different seed = a different, equally
    deterministic permutation."""
    from rle_array_spark.packing import pack_examples

    spark = _session(args)
    df = spark.read.schema(
        "doc_id string, tokens array<int>, n_tok int, source string"
    ).parquet(args.input)
    import pyspark.sql.functions as F

    # actual array lengths, not the n_tok metadata column — same ground
    # truth packing itself measures (null arrays count 0, like the filter)
    in_tok = (
        df.agg(
            F.sum(F.greatest(F.size("tokens"), F.lit(0)).cast("long"))
        ).collect()[0][0]
        or 0
    )
    packed = pack_examples(
        df, seq_len=args.seq_len, n_shards=args.shards, seed=args.seed
    )
    as_seq = packed.select(
        F.concat_ws(":", "shard", "example_id").alias("doc_id"),
        "tokens",
        F.size("tokens").alias("n_tok"),
        F.lit(f"epoch{args.seed}").alias("source"),
    )
    if args.encode:
        from rle_array_spark.tableio import encode_to_dir

        lineage = encode_to_dir(
            as_seq,
            args.output,
            codec=args.codec,
            num_partitions=args.partitions,
            commit_mode=args.commit_mode,
        )
        n_examples = sum(r["n_rows"] for r in lineage)
        out_tok = sum(r["n_tokens"] for r in lineage)
        extra = {
            "partitions": len(lineage),
            "skipped": sum(1 for r in lineage if r["status"] == "skipped"),
            "encoded_bytes": sum(r["encoded_bytes"] for r in lineage),
        }
    else:
        from pyspark.sql import Observation

        obs = Observation("pack-summary")
        as_seq.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_tok").cast("long")).alias("tok"),
        ).write.mode(args.mode).parquet(args.output)
        n_examples = int(obs.get["n"])
        out_tok = int(obs.get["tok"] or 0)
        extra = {}
    print(json.dumps({
        "job": "pack",
        "seq_len": args.seq_len,
        "shards": args.shards,
        "seed": args.seed,
        "examples": int(n_examples),
        "tokens_in": int(in_tok),
        "tokens_packed": int(out_tok),
        "tail_dropped": int(in_tok - out_tok),
        **extra,
    }))
    spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rle_array_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode")
    enc.add_argument("--input", required=True)
    enc.add_argument("--output", required=True)
    enc.add_argument("--codec", default="auto")
    enc.add_argument("--threshold", type=float, default=1.0)
    enc.add_argument("--partitions", type=int, default=128)
    enc.add_argument("--salted", action="store_true")
    enc.add_argument(
        "--chunk-tokens",
        type=lambda v: v if v == "auto" else int(v),
        default=None,
        help="tokens per chunk for giant-sequence splitting; 'auto' sizes "
        "from corpus shape",
    )
    enc.add_argument("--mode", default="overwrite")
    enc.add_argument(
        "--commit-mode",
        default=None,
        choices=("sidecar", "manifest"),
        help="salted mode only — resume protocol: per-partition "
        "rename-committed sidecars (shared POSIX/HDFS; the default) or "
        "manifest-only with self-certifying data files (object stores, "
        "no atomic rename)",
    )
    enc.add_argument(
        "--shuffle-first",
        action="store_true",
        help="salted mode only: shuffle raw tokens BEFORE encoding (the "
        "pathological-input-layout defense; default is encode-first)",
    )

    dec = sub.add_parser("decode")
    dec.add_argument("--blocks", required=True)
    dec.add_argument("--output", required=True)
    dec.add_argument("--mode", default="overwrite")

    ver = sub.add_parser("verify")
    ver.add_argument("--input", required=True)
    ver.add_argument("--blocks", required=True)

    st = sub.add_parser("stream")
    st.add_argument("--input", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--codec", default=None,
        help="codec of the encode, stats and quantiles ops (default auto)",
    )
    st.add_argument(
        "--op",
        choices=("encode", "stats", "quantiles", "dedup", "pack"),
        default="encode",
        help="encode blocks, running per-source stats, running exact "
        "quantiles, cross-batch exact dedup (dedup input: documents "
        "parquet with doc_id/text/source), or continuous sequence "
        "packing (state store carries each shard's open example)",
    )
    st.add_argument(
        "--max-files-per-trigger", type=int, default=None,
        help="split the drain into micro-batches of N input files "
        "(quantiles and pack ops; exercises cross-batch state)",
    )
    st.add_argument(
        "--state-partitions", type=int, default=None,
        help="state-store partition count for the stateful ops (stats/"
        "quantiles/pack — keys are low-cardinality: sources or shards); "
        "fixed at the checkpoint's first batch, default = session "
        "spark.sql.shuffle.partitions",
    )
    # shard default matches the batch `pack` job: same corpus + same seed
    # must give the same shard assignment whichever surface packs it
    st.add_argument("--seq-len", type=int, default=512)
    st.add_argument("--shards", type=int, default=256)
    st.add_argument("--seed", type=int, default=1)

    sts = sub.add_parser("stats")
    sts.add_argument("--blocks", required=True)
    sts.add_argument(
        "--lineage", action="store_true",
        help="blocks dir was written by encode --salted (read via the "
        "snapshot-aware reader instead of a plain parquet scan)",
    )
    sts.add_argument(
        "--contains", type=int, default=None,
        help="also report docs containing this token (zone-map prune + "
        "compressed occurrence count)",
    )

    tr = sub.add_parser("transform")
    tr.add_argument("--blocks", required=True)
    tr.add_argument("--output", required=True)
    tr.add_argument(
        "--step", action="append", required=True,
        help="op:operand, repeatable — applied in order as ONE fused "
        "kernel pass (e.g. --step add:7 --step mul:3 --step mod:251; "
        "clip 60..120 is --step min:120 --step max:60)",
    )
    tr.add_argument("--mode", default="overwrite")

    pk = sub.add_parser("pack")
    pk.add_argument("--input", required=True)
    pk.add_argument("--output", required=True)
    pk.add_argument("--seq-len", type=int, default=512)
    pk.add_argument("--shards", type=int, default=256)
    pk.add_argument(
        "--seed", type=int, default=1,
        help="epoch number. The same corpus and seed always give the same "
        "examples in the same order; another seed shuffles the documents "
        "into a different order. Examples run across document boundaries, "
        "so epochs hold the same examples (in a different order) only when "
        "every document's length is a multiple of --seq-len; each shard "
        "drops its last partial example",
    )
    pk.add_argument(
        "--encode", action="store_true",
        help="write compressed blocks via the checkpointed salted writer "
        "(resumable) instead of plain packed parquet",
    )
    pk.add_argument("--codec", default=None, help="with --encode (default auto)")
    pk.add_argument(
        "--partitions", type=int, default=None, help="with --encode (default 128)"
    )
    pk.add_argument(
        "--commit-mode", default=None, choices=("sidecar", "manifest"),
        help="with --encode (default sidecar)",
    )
    pk.add_argument("--mode", default="overwrite")

    for s in sub.choices.values():
        s.add_argument("--cores", default="*")

    args = p.parse_args(argv)
    if args.cmd == "encode" and args.shuffle_first and not args.salted:
        p.error("--shuffle-first applies only with --salted")
    if args.cmd == "encode" and args.commit_mode is not None and not args.salted:
        p.error("--commit-mode applies only with --salted")
    if args.cmd == "stream" and args.codec is not None and args.op in ("dedup", "pack"):
        p.error(f"--codec applies to --op encode, stats or quantiles, not {args.op}")
    if args.cmd == "pack" and not args.encode:
        for flag in ("codec", "partitions", "commit_mode"):
            if getattr(args, flag) is not None:
                p.error(f"--{flag.replace('_', '-')} applies only with --encode")
    if args.cmd == "stream" and args.state_partitions is not None and args.op in ("encode", "dedup"):
        p.error(f"--state-partitions applies to --op stats, quantiles or pack, not {args.op}")
    if args.cmd == "stream" and args.max_files_per_trigger is not None and args.op not in (
        "quantiles", "pack"
    ):
        p.error(f"--max-files-per-trigger applies to --op quantiles or pack, not {args.op}")
    # flags that default to None only so that explicit use shows above
    for flag, default in (("codec", "auto"), ("commit_mode", "sidecar"), ("partitions", 128)):
        if hasattr(args, flag) and getattr(args, flag) is None:
            setattr(args, flag, default)
    return {
        "encode": cmd_encode,
        "decode": cmd_decode,
        "verify": cmd_verify,
        "stream": cmd_stream,
        "stats": cmd_stats,
        "transform": cmd_transform,
        "pack": cmd_pack,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
