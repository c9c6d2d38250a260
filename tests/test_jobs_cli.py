"""CLI job tests: the spark-submit entrypoints run end-to-end as real
subprocesses (the --py-files deployment surface)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rle_array_spark.datagen import generate_block

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args: list[str]) -> dict:
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-m", "rle_array_spark.jobs", *args, "--cores", "4"],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
        check=False,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_cli_encode_decode_verify(tmp_path):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pq.write_table(
        pa.Table.from_batches([generate_block(0, 10)]), os.path.join(input_dir, "p.parquet")
    )
    enc_dir = str(tmp_path / "enc")
    dec_dir = str(tmp_path / "dec")

    enc = _run(["encode", "--input", input_dir, "--output", enc_dir])
    assert enc["rows"] > 0 and enc["encoded_bytes"] < enc["raw_bytes"]

    dec = _run(["decode", "--blocks", enc_dir, "--output", dec_dir])
    assert dec["rows"] == enc["rows"]

    ver = _run(["verify", "--input", input_dir, "--blocks", enc_dir])
    assert ver["mismatches"] == 0


@pytest.mark.slow
def test_cli_salted_encode_resume(tmp_path):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pq.write_table(
        pa.Table.from_batches([generate_block(1, 10)]), os.path.join(input_dir, "p.parquet")
    )
    out_dir = str(tmp_path / "enc")
    first = _run(["encode", "--input", input_dir, "--output", out_dir, "--salted", "--partitions", "4"])
    assert first["skipped"] == 0
    second = _run(["encode", "--input", input_dir, "--output", out_dir, "--salted", "--partitions", "4"])
    assert second["skipped"] == 4  # full checkpoint hit
    assert second["tokens"] == first["tokens"]
    # verify/decode must accept the writer dir the salted encode just
    # produced (blocks/ subdir layout), not only a flat parquet dir —
    # the spark-submit lifecycle encode → verify → decode (r4 fix)
    ver = _run(["verify", "--input", input_dir, "--blocks", out_dir])
    assert ver["mismatches"] == 0
    dec_dir = str(tmp_path / "dec")
    dec = _run(["decode", "--blocks", out_dir, "--output", dec_dir])
    assert dec["rows"] > 0


def test_cli_transform_chain(tmp_path):
    """transform job: encoded dir → fused chain → new encoded dir, with
    the decoded result equal to numpy over the raw tokens."""
    import numpy as np

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pq.write_table(
        pa.Table.from_batches([generate_block(2, 8)]), os.path.join(input_dir, "p.parquet")
    )
    enc_dir = str(tmp_path / "enc")
    tr_dir = str(tmp_path / "tr")
    dec_dir = str(tmp_path / "dec")

    _run(["encode", "--input", input_dir, "--output", enc_dir])
    tr = _run([
        "transform", "--blocks", enc_dir, "--output", tr_dir,
        "--step", "add:7", "--step", "mul:3", "--step", "mod:251",
    ])
    assert tr["blocks"] > 0
    _run(["decode", "--blocks", tr_dir, "--output", dec_dir])

    raw = pq.read_table(os.path.join(input_dir, "p.parquet")).to_pydict()
    exp = {
        d: ((np.array(t, dtype=np.int64) + 7) * 3 % 251).tolist()
        for d, t in zip(raw["doc_id"], raw["tokens"])
    }
    got_tab = pq.ParquetDataset(dec_dir).read().to_pydict()
    got = dict(zip(got_tab["doc_id"], got_tab["tokens"]))
    assert {d: list(v) for d, v in got.items()} == exp
    assert tr["tok_sum"] == sum(sum(v) for v in exp.values())


def test_cli_stats(tmp_path):
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pq.write_table(
        pa.Table.from_batches([generate_block(0, 10)]), os.path.join(input_dir, "p.parquet")
    )
    enc_dir = str(tmp_path / "enc")
    _run(["encode", "--input", input_dir, "--output", enc_dir])
    out = _run(["stats", "--blocks", enc_dir, "--contains", "0"])
    # every datagen source appears with ordered quartiles
    assert set(out["quantiles"]) == {
        "padded", "natural", "code", "lowcard", "narrow", "random", "giant"
    }
    for q in out["quantiles"].values():
        assert q["p25"] <= q["p50"] <= q["p75"] and q["n_toks"] > 0
    # PAD token 0 dominates the padded source: plenty of hits
    assert out["contains"]["docs"] > 0
    assert out["contains"]["occurrences"] > out["contains"]["docs"]


@pytest.mark.slow
def test_cli_stream_ops(tmp_path):
    """The streaming surface via the spark-submit CLI: quantiles op drained
    in micro-batches must equal the batch quantile answer; dedup op over
    documents keeps one representative per distinct text."""
    import numpy as np

    seq_dir = str(tmp_path / "seq")
    os.makedirs(seq_dir)
    tbl = pa.Table.from_batches([generate_block(2, 8)])
    # two files -> two micro-batches at --max-files-per-trigger 1
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(seq_dir, "a.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(seq_dir, "b.parquet"))

    out = _run([
        "stream", "--op", "quantiles", "--input", seq_dir,
        "--output", str(tmp_path / "q_out"),
        "--checkpoint", str(tmp_path / "q_ckpt"),
        "--max-files-per-trigger", "1",
        # knob wired through argparse; answers below must not notice it
        "--state-partitions", "3",
    ])
    assert out["job"] == "stream-quantiles" and out["rows"] > 0
    import pandas as pd

    emitted = pd.read_parquet(str(tmp_path / "q_out"))
    final = emitted.loc[emitted.groupby("source")["n_toks"].idxmax()]
    toks = tbl.to_pandas()
    for _, row in final.iterrows():
        if row["n_toks"] == 0:
            continue
        vals = np.sort(
            np.concatenate(
                toks.loc[toks["source"] == row["source"], "tokens"].to_list()
            ).astype(np.int64)
        )
        assert row["n_toks"] == vals.size
        k = int(np.ceil(0.5 * vals.size))
        assert row["p50"] == vals[k - 1]

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    ddf = pa.table(
        {
            "doc_id": ["a", "b", "c", "d"],
            "text": ["same text here", "same text here", "other doc", "third doc"],
            "source": ["s"] * 4,
        }
    )
    pq.write_table(ddf, os.path.join(docs_dir, "d.parquet"))
    out = _run([
        "stream", "--op", "dedup", "--input", docs_dir,
        "--output", str(tmp_path / "d_out"),
        "--checkpoint", str(tmp_path / "d_ckpt"),
    ])
    assert out["job"] == "stream-dedup" and out["rows"] == 3  # one dup dropped


@pytest.mark.slow
def test_cli_pack_plain_and_encoded(tmp_path):
    """pack job: plain parquet output conserves tokens up to per-shard
    tails; --encode routes through the checkpointed writer and the
    resulting blocks decode to exactly seq_len tokens per example."""
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    pq.write_table(
        pa.Table.from_batches([generate_block(0, 10)]),
        os.path.join(input_dir, "p.parquet"),
    )
    L, shards = 64, 4
    plain_dir = str(tmp_path / "packed")
    res = _run([
        "pack", "--input", input_dir, "--output", plain_dir,
        "--seq-len", str(L), "--shards", str(shards),
    ])
    assert res["examples"] > 0
    assert res["tokens_packed"] == res["examples"] * L
    assert 0 <= res["tail_dropped"] < shards * L
    assert res["tokens_in"] == res["tokens_packed"] + res["tail_dropped"]

    # epoch 2 is a different permutation but identical conservation
    res2 = _run([
        "pack", "--input", input_dir, "--output", str(tmp_path / "packed2"),
        "--seq-len", str(L), "--shards", str(shards), "--seed", "2",
    ])
    assert abs(res2["examples"] - res["examples"]) < shards
    assert res2["tokens_in"] == res["tokens_in"]

    enc_dir = str(tmp_path / "packed_enc")
    rese = _run([
        "pack", "--input", input_dir, "--output", enc_dir,
        "--seq-len", str(L), "--shards", str(shards),
        "--encode", "--partitions", "8",
    ])
    assert rese["examples"] == res["examples"]
    assert rese["tokens_packed"] == res["tokens_packed"]
    assert rese["encoded_bytes"] > 0

    ver = _run(["verify", "--input", plain_dir, "--blocks", enc_dir])
    assert ver["mismatches"] == 0


@pytest.mark.slow
def test_cli_stream_pack(tmp_path):
    """stream --op pack via the CLI: two micro-batches of arriving files
    pack into exact-L examples whose per-shard counts match
    floor(shard_tokens/L) computed offline from the same files."""
    import numpy as np
    import pandas as pd

    seq_dir = str(tmp_path / "seq")
    os.makedirs(seq_dir)
    tbl = pa.Table.from_batches([generate_block(3, 6)])
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), os.path.join(seq_dir, "a.parquet"))
    pq.write_table(tbl.slice(half), os.path.join(seq_dir, "b.parquet"))

    L = 128
    out = _run([
        "stream", "--op", "pack", "--input", seq_dir,
        "--output", str(tmp_path / "p_out"),
        "--checkpoint", str(tmp_path / "p_ckpt"),
        "--seq-len", str(L), "--shards", "4",
    ])
    assert out["job"] == "stream-pack" and out["rows"] > 0
    packed = pd.read_parquet(str(tmp_path / "p_out"))
    assert (packed["tokens"].map(len) == L).all()
    # ids dense per shard; counts == floor(shard tokens / L)
    import hashlib

    toks = tbl.to_pandas()
    shard_tot: dict[int, int] = {}
    for _, r in toks.iterrows():
        if len(r["tokens"]) == 0:
            continue
        h = hashlib.md5(f"{r['doc_id']}:1".encode()).hexdigest()[:15]
        sh = int(h, 16) % 4
        shard_tot[sh] = shard_tot.get(sh, 0) + len(r["tokens"])
    for sh, tot in shard_tot.items():
        ids = sorted(packed.loc[packed["shard"] == sh, "example_id"])
        assert len(ids) == tot // L, (sh, len(ids), tot)
        assert ids == list(range(len(ids)))


@pytest.mark.parametrize("op", ["encode", "dedup"])
def test_cli_stream_rejects_state_partitions(op, capsys):
    """--state-partitions sizes a state store the encode and dedup streams
    do not take: the parser rejects it instead of dropping it. No session
    starts — the error is raised while parsing."""
    from rle_array_spark.jobs import main

    with pytest.raises(SystemExit) as exc:
        main([
            "stream", "--op", op, "--input", "in", "--output", "out",
            "--checkpoint", "ckpt", "--state-partitions", "4",
        ])
    assert exc.value.code == 2
    assert f"--state-partitions applies to --op stats, quantiles or pack, not {op}" in (
        capsys.readouterr().err
    )


@pytest.mark.parametrize(
    "argv, message",
    [
        (
            ["encode", "--input", "in", "--output", "out", "--shuffle-first"],
            "--shuffle-first applies only with --salted",
        ),
    ]
    + [
        (
            [
                "stream", "--op", op, "--input", "in", "--output", "out",
                "--checkpoint", "ckpt", "--max-files-per-trigger", "1",
            ],
            f"--max-files-per-trigger applies to --op quantiles or pack, not {op}",
        )
        for op in ("encode", "stats", "dedup")
    ]
    + [
        (
            ["encode", "--input", "in", "--output", "out", "--commit-mode", "manifest"],
            "--commit-mode applies only with --salted",
        ),
    ]
    + [
        (
            [
                "stream", "--op", op, "--input", "in", "--output", "out",
                "--checkpoint", "ckpt", "--codec", "rle",
            ],
            f"--codec applies to --op encode, stats or quantiles, not {op}",
        )
        for op in ("dedup", "pack")
    ]
    + [
        (
            ["pack", "--input", "in", "--output", "out", *flag],
            f"{flag[0]} applies only with --encode",
        )
        for flag in (["--codec", "rle"], ["--partitions", "8"], ["--commit-mode", "manifest"])
    ],
)
def test_cli_rejects_ignored_flags(argv, message, capsys):
    """Flags the chosen job would not read exit 2 at parse time instead of
    being dropped. No session starts."""
    from rle_array_spark.jobs import main

    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_cli_flag_defaults_resolve_without_spark(monkeypatch):
    """The flags above default to None only to detect explicit use; a job
    that reads them gets the documented defaults."""
    from rle_array_spark import jobs

    seen = {}
    for argv, want in (
        (["encode", "--input", "i", "--output", "o", "--salted"],
         {"codec": "auto", "commit_mode": "sidecar", "partitions": 128}),
        (["pack", "--input", "i", "--output", "o", "--encode"],
         {"codec": "auto", "commit_mode": "sidecar", "partitions": 128}),
        (["stream", "--input", "i", "--output", "o", "--checkpoint", "c"], {"codec": "auto"}),
    ):
        monkeypatch.setattr(jobs, f"cmd_{argv[0]}", lambda args: seen.update(args=args) or 0)
        assert jobs.main(argv) == 0
        assert {k: getattr(seen["args"], k) for k in want} == want


def _chunked_input(tmp_path):
    """Three docs of 50, 3 and 30 tokens: two split at --chunk-tokens 8."""
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    docs = {"a": list(range(50)), "b": [7, 7, 7], "c": [i % 4 for i in range(30)]}
    pq.write_table(
        pa.table({
            "doc_id": list(docs),
            "tokens": pa.array(list(docs.values()), type=pa.list_(pa.int32())),
            "n_tok": pa.array([len(t) for t in docs.values()], type=pa.int32()),
            "source": ["s"] * 3,
        }),
        os.path.join(input_dir, "p.parquet"),
    )
    return input_dir, docs


def _run_in_session(spark, monkeypatch, capsys, argv: list[str]) -> tuple[int, dict]:
    """A job's exit code and JSON line, run in the test session (a job
    stops its session at the end; this one must survive)."""
    from rle_array_spark import jobs

    monkeypatch.setattr(jobs, "_session", lambda args: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    code = jobs.main(argv)
    return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("salted", [True, False])
@pytest.mark.parametrize("cmd", ["verify", "decode"])
def test_cli_decode_verify_chunked(spark, tmp_path, monkeypatch, capsys, cmd, salted):
    """``verify`` and ``decode`` reassemble blocks that hold chunks, both
    in a checkpointed dir and in a plain ``encode --chunk-tokens`` dir:
    no false mismatches, one decoded row per document in token order."""
    input_dir, docs = _chunked_input(tmp_path)
    enc_dir = str(tmp_path / "enc")
    salted_args = ["--salted", "--partitions", "4"] if salted else []
    _, enc = _run_in_session(spark, monkeypatch, capsys, [
        "encode", "--input", input_dir, "--output", enc_dir, "--chunk-tokens", "8", *salted_args,
    ])
    assert enc["rows"] == 7 + 1 + 4  # 50 and 30 tokens split into 7 and 4 chunks
    if cmd == "verify":
        code, ver = _run_in_session(
            spark, monkeypatch, capsys, ["verify", "--input", input_dir, "--blocks", enc_dir]
        )
        assert (code, ver["mismatches"]) == (0, 0)
    else:
        dec_dir = str(tmp_path / "dec")
        _, dec = _run_in_session(
            spark, monkeypatch, capsys, ["decode", "--blocks", enc_dir, "--output", dec_dir]
        )
        assert dec["rows"] == 3
        got = pq.ParquetDataset(dec_dir).read().to_pydict()
        assert dict(zip(got["doc_id"], got["tokens"])) == docs
