"""The metadata-only resume check: before encoding, both checkpointed
writers fingerprint every partition from row metadata and, when every
partition is committed, commit a snapshot without running the encode.

These tests pin that the pre-pass fingerprints equal the write kernel's,
that a changed document can never be a false hit, that a full hit runs no
encode or payload shuffle, and that concurrent commits all survive."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import threading
import time
import urllib.request

import pytest
from pyspark.sql import functions as F

from rle_array_spark import tableio
from rle_array_spark.tableio import encode_table_to_dir, encode_to_dir, read_snapshot

K = 8  # chunk_tokens for the token-writer corpus


def _file_hashes(out_dir):
    return {
        os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in sorted(glob.glob(os.path.join(out_dir, "blocks", "*.parquet")))
    }


def _tokens(n, seed):
    return [(seed * 7 + i // 3) % 11 for i in range(n)]


def _seq_df(spark, rows):
    """rows: (doc_id, n, source); the stored n_tok is the true length."""
    return spark.createDataFrame(
        [(d, _tokens(n, i), n, s) for i, (d, n, s) in enumerate(rows)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


# chunk boundaries (n = k, 2k, 2k+1), an empty array, and a duplicate doc_id
CHUNKED = [
    ("k", K, "a"), ("2k", 2 * K, "a"), ("2k1", 2 * K + 1, "b"), ("empty", 0, "b"),
    ("dup", 4, "a"), ("dup", 7, "a"), ("dup", 7, "b"), ("s5", 5, "a"),
    ("s3", 3, "b"), ("s1", 1, "a"), ("long", 5 * K + 3, "b"), ("s12", 12, "a"),
]
SPARSE = [("x", 3, "a"), ("y", 2 * K + 1, "b"), ("z", 0, "a")]  # fewer rows than partitions


def _seq_df_sized(spark, rows, sizes):
    """Like :func:`_seq_df`, with the token arrays of the docs in ``sizes``
    resized and their stored n_tok left stale."""
    return spark.createDataFrame(
        [(d, _tokens(sizes.get(d, n), i), n, s) for i, (d, n, s) in enumerate(rows)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )


def _prepass(df, out, encode_first, parts):
    snap = read_snapshot(out)
    length_field = "n_values" if encode_first else "n_tok"
    rows = tableio._chunk_rows(df, snap["chunk_tokens"], length_field)
    return tableio._salted_fingerprints(rows, length_field, parts, snap["params_key"])


@pytest.mark.parametrize("encode_first,commit_mode", [(True, "sidecar"), (False, "manifest")])
def test_prepass_fingerprints_match_write_kernel(spark, tmp_path, encode_first, commit_mode):
    kw = dict(chunk_tokens=K, encode_first=encode_first, commit_mode=commit_mode)
    for name, rows, parts in (("chunked", CHUNKED, 5), ("sparse", SPARSE, 8)):
        df = _seq_df(spark, rows)
        out = str(tmp_path / name)
        first = encode_to_dir(df, out, num_partitions=parts, **kw)
        assert {r["status"] for r in first} == {"encoded"}
        assert _prepass(df, out, encode_first, parts) == [r["fingerprint"] for r in first]
        again = encode_to_dir(df, out, num_partitions=parts, **kw)
        assert {r["status"] for r in again} == {"skipped"}

    # A token moves from s12 to s5 while the stored n_tok stays stale: the
    # totals are unchanged, so the fingerprint pass must catch it, and it
    # must not trust n_tok.
    out = str(tmp_path / "chunked")
    before = {r["part_id"]: r for r in read_snapshot(out)["partitions"]}
    moved = _seq_df_sized(spark, CHUNKED, {"s5": 6, "s12": 11})
    lineage = encode_to_dir(moved, out, num_partitions=5, **kw)
    encoded = [r for r in lineage if r["status"] == "encoded"]
    assert 1 <= len(encoded) <= 2 and len(encoded) + [r["status"] for r in lineage].count("skipped") == 5
    assert sum(r["n_tokens"] for r in lineage) == sum(r["n_tokens"] for r in before.values())
    assert all(r["fingerprint"] != before[r["part_id"]]["fingerprint"] for r in encoded)

    # s5 shrinks 6 -> 4 tokens, a length no earlier run committed: same
    # length bucket and salt, so exactly one partition changes.
    before = {r["part_id"]: r for r in read_snapshot(out)["partitions"]}
    changed = _seq_df_sized(spark, CHUNKED, {"s5": 4, "s12": 11})
    lineage = encode_to_dir(changed, out, num_partitions=5, **kw)
    encoded = [r for r in lineage if r["status"] == "encoded"]
    assert len(encoded) == 1
    assert [r["status"] for r in lineage].count("skipped") == 4
    (hit,) = encoded
    assert hit["fingerprint"] != before[hit["part_id"]]["fingerprint"]
    assert hit["n_tokens"] == before[hit["part_id"]]["n_tokens"] - 2


TABLE_COLS = ["toks", "vals", "tags"]


def _table_df(spark, grow=None, shrink=None):
    rows = []
    for i, d in enumerate(["a", "b", "dup", "dup", "e", "f", "g", "h", "dup"]):
        n = (i * 5) % 9 + (1 if d == grow else 0) - (1 if d == shrink else 0)
        rows.append((
            d, "s", [i % 3] * n,
            [None if j % 4 == 0 else j / 8 for j in range(n)],
            [f"t{j % 2}" for j in range(n)],
        ))
    return spark.createDataFrame(
        rows,
        "doc_id string, source string, toks array<int>, vals array<double>, tags array<string>",
    )


@pytest.mark.parametrize("commit_mode", ["sidecar", "manifest"])
def test_table_prepass_fingerprints_match_write_kernel(spark, tmp_path, commit_mode):
    parts = 6
    df = _table_df(spark)
    out = str(tmp_path / "t")
    first = encode_table_to_dir(df, TABLE_COLS, out, num_partitions=parts, commit_mode=commit_mode)
    assert any(r["n_rows"] == 0 for r in first)  # an empty partition is covered
    n_value_cols = [f"{c}__n_values" for c in TABLE_COLS]
    sizes = df.select("doc_id", *[F.size(c).alias(n) for c, n in zip(TABLE_COLS, n_value_cols)])
    fps = tableio._doc_fingerprints(sizes, n_value_cols, parts, read_snapshot(out)["params_key"])
    assert fps == [r["fingerprint"] for r in first]
    again = encode_table_to_dir(df, TABLE_COLS, out, num_partitions=parts, commit_mode=commit_mode)
    assert {r["status"] for r in again} == {"skipped"}

    lineage = encode_table_to_dir(
        _table_df(spark, grow="e"), TABLE_COLS, out, num_partitions=parts, commit_mode=commit_mode
    )
    statuses = [r["status"] for r in lineage]
    assert statuses.count("encoded") == 1 and statuses.count("skipped") == parts - 1

    # then a value moves from e to b in every column: the totals still match
    # the latest snapshot, so the fingerprint pass decides, and only the
    # changed partitions re-encode
    lineage = encode_table_to_dir(
        _table_df(spark, grow="b", shrink="e"), TABLE_COLS, out, num_partitions=parts,
        commit_mode=commit_mode,
    )
    statuses = [r["status"] for r in lineage]
    assert 1 <= statuses.count("encoded") <= 2 and statuses.count("skipped") >= parts - 2


def _stage_totals(sc, group):
    """(executed stages, shuffle write bytes) of a job group, from the
    status REST endpoint once its jobs have left RUNNING."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    deadline = time.monotonic() + 30
    while True:
        jobs = [j for j in get("/jobs") if j.get("jobGroup") == group]
        if jobs and all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    ids = {s for j in jobs for s in j["stageIds"]}
    ran = [s for s in get("/stages") if s["stageId"] in ids and s["numCompleteTasks"] > 0]
    return len(ran), sum(s["shuffleWriteBytes"] for s in ran)


def _grouped(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup("", "")


@pytest.mark.parametrize("writer", ["tokens", "table"])
def test_full_hit_runs_no_encode(spark, sequences, tmp_path, writer):
    sc = spark.sparkContext
    out = str(tmp_path / writer)
    if writer == "tokens":
        def write():
            return encode_to_dir(sequences, out, num_partitions=6)
    else:
        df = _table_df(spark)

        def write():
            return encode_table_to_dir(df, TABLE_COLS, out, num_partitions=6, commit_mode="manifest")

    tag = f"{writer}-{os.getpid()}"
    first = _grouped(sc, f"write-{tag}", write)
    files = _file_hashes(out)
    again = _grouped(sc, f"rerun-{tag}", write)

    stages_w, shuffle_w = _stage_totals(sc, f"write-{tag}")
    stages_r, shuffle_r = _stage_totals(sc, f"rerun-{tag}")
    # write: the encode at scan, then the payload shuffle into the kernel
    assert stages_w == 2 and shuffle_w > 0
    if writer == "tokens":
        # the fingerprint aggregate: per-partition XORs shuffle, no rows
        assert stages_r == 2 and 0 < shuffle_r < shuffle_w / 10, (stages_r, shuffle_r, shuffle_w)
    else:
        # the totals scan, then doc_id rows shuffle in place of payloads
        assert stages_r == 3 and 0 < shuffle_r < shuffle_w
    assert _file_hashes(out) == files
    # manifest mode rebuilds records from the files, where wall time is 0
    drop = {"status"} | ({"wall_ms"} if writer == "table" else set())
    assert [{k: v for k, v in r.items() if k not in drop} for r in again] == [
        {k: v for k, v in r.items() if k not in drop} for r in first
    ]
    assert {r["status"] for r in again} == {"skipped"}
    assert tableio.read_manifest(out)["latest"] == 2


@pytest.mark.parametrize("writer", ["tokens", "table"])
def test_no_fingerprint_pass_when_a_hit_is_ruled_out(spark, sequences, tmp_path, monkeypatch, writer):
    """The fingerprint pass runs only when the latest snapshot was written
    with the run's parameters: a rerun after a crashed first write or with
    new parameters takes the full write path without paying for it. The
    table writer also skips its pass when the input's totals changed."""
    out = str(tmp_path / writer)
    inputs = {
        "tokens": (sequences, sequences.withColumn(
            "tokens", F.when(F.col("doc_id") == sequences.first()["doc_id"],
                             F.concat("tokens", F.array(F.lit(7)))).otherwise(F.col("tokens")))),
        "table": (_table_df(spark), _table_df(spark, grow="e")),
    }[writer]

    def write(parts, grown=False, **kw):
        df = inputs[grown]
        if writer == "tokens":
            return encode_to_dir(df, out, num_partitions=parts, **kw)
        return encode_table_to_dir(df, TABLE_COLS, out, num_partitions=parts, **kw)

    with pytest.raises(Exception, match="injected failure"):
        write(4, fail_at_partition=3)
    prepass = "_salted_fingerprints" if writer == "tokens" else "_doc_fingerprints"
    calls = []
    real = getattr(tableio, prepass)
    monkeypatch.setattr(tableio, prepass, lambda *a: calls.append(a) or real(*a))
    assert "encoded" in {r["status"] for r in write(4)}  # crashed first write: no snapshot
    assert calls == []
    write(5)  # new parameters
    assert calls == []
    assert {r["status"] for r in write(5)} == {"skipped"}
    assert len(calls) == 1
    assert "encoded" in {r["status"] for r in write(5, grown=True)}
    assert len(calls) == (2 if writer == "tokens" else 1)


def test_commit_without_hard_links(tmp_path, monkeypatch):
    """Snapshot commits rename files into place and never hard-link them,
    so they work on filesystems that support rename but not link()."""
    def no_link(*a, **kw):
        raise PermissionError("link() is not supported here")

    monkeypatch.setattr(os, "link", no_link)
    out = str(tmp_path / "nolink")
    os.makedirs(os.path.join(out, "snapshots"))
    row = {"part_id": 0, "fingerprint": "0" * 32, "n_rows": 0}
    for tag in ("a", "b"):
        tableio._commit_snapshot(out, {"codec": tag}, "k", [row])
    assert [read_snapshot(out, v)["codec"] for v in (1, 2)] == ["a", "b"]
    assert tableio.read_manifest(out)["latest"] == 2
    tableio.vacuum(out, keep_snapshots=1)  # an expired snapshot's claim goes with it
    assert sorted(os.listdir(os.path.join(out, "snapshots"))) == ["v2.claim", "v2.json"]


def test_concurrent_commits_all_survive(tmp_path):
    """Committers racing for the same next version: each snapshot is
    created exclusively, a loser retries at N+1, and the pointer ends on
    the newest. More threads than cores and a short switch interval make
    the race likely in every round."""
    n = 6
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for round_ in range(10):
            out = str(tmp_path / f"r{round_}")
            os.makedirs(os.path.join(out, "snapshots"))
            barrier = threading.Barrier(n)
            errors = []

            def commit(tag):
                try:
                    barrier.wait(timeout=30)
                    row = {"part_id": 0, "fingerprint": tag * 32, "n_rows": 0}
                    tableio._commit_snapshot(out, {"codec": tag}, tag, [row])
                except Exception as e:  # reported by the assert below
                    errors.append(e)

            threads = [threading.Thread(target=commit, args=(f"{i:x}",)) for i in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert errors == []
            snaps = [read_snapshot(out, v) for v in range(1, n + 1)]
            assert sorted(s["codec"] for s in snaps) == [f"{i:x}" for i in range(n)]
            assert not glob.glob(os.path.join(out, "snapshots", "*.tmp*"))
            pointer = tableio.read_manifest(out)
            assert pointer["latest"] == n and pointer["codec"] == snaps[-1]["codec"]
    finally:
        sys.setswitchinterval(interval)


def test_slow_committer_does_not_roll_back_pointer(tmp_path, monkeypatch):
    """A committer that stalls between creating v1 and writing the pointer
    must not leave the pointer on v1 once v2 is committed: it re-reads the
    newest version after its write."""
    out = str(tmp_path / "slow")
    os.makedirs(os.path.join(out, "snapshots"))
    newer_done = threading.Event()
    read_snapshot_ = tableio.read_snapshot
    stalled = []

    def stalling_read(out_dir, snapshot=None):
        if threading.current_thread().name == "slow" and not stalled:
            stalled.append(snapshot)
            assert newer_done.wait(timeout=30)
        return read_snapshot_(out_dir, snapshot)

    monkeypatch.setattr(tableio, "read_snapshot", stalling_read)
    row = {"part_id": 0, "fingerprint": "0" * 32, "n_rows": 0}
    slow = threading.Thread(
        target=tableio._commit_snapshot, args=(out, {"codec": "old"}, "k", [row]), name="slow"
    )
    slow.start()
    while not stalled:  # the slow committer holds v1 and is about to point at it
        time.sleep(0.01)
    tableio._commit_snapshot(out, {"codec": "new"}, "k", [row])
    newer_done.set()
    slow.join(timeout=30)
    assert not slow.is_alive()
    assert stalled == [1]
    pointer = tableio.read_manifest(out)
    assert pointer["latest"] == 2 and pointer["codec"] == "new"
