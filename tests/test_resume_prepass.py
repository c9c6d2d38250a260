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
    part_id = tableio.salted_partition_id(rows, parts)
    return tableio._salted_fingerprints(rows, part_id, length_field, parts, snap["params_key"])[0]


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


def _table_prepass(df, out, parts):
    rows = tableio._table_rows(df, TABLE_COLS, parts)
    key = read_snapshot(out)["params_key"]
    return tableio._salted_fingerprints(rows, F.col("part_id"), "n", parts, key)[0]


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
    assert _table_prepass(df, out, parts) == [r["fingerprint"] for r in first]
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


def test_table_prepass_null_arrays_and_row_order(spark, tmp_path):
    """A null array counts 0 values on both sides, and the kernel's
    fingerprint does not depend on the order of duplicate rows."""
    rows = [
        ("a", "s", [1, 2], [1.0, None], ["x", None]), ("b", "s", [3], None, None),
        ("c", "s", [4, 4], [2.0], ["y"]), ("b", "s", [3], None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, toks array<int>, vals array<double>, tags array<string>"
    )
    out = str(tmp_path / "nulls")
    first = encode_table_to_dir(df, TABLE_COLS, out, num_partitions=3)
    assert _table_prepass(df, out, 3) == [r["fingerprint"] for r in first]
    assert {r["status"] for r in encode_table_to_dir(df, TABLE_COLS, out, num_partitions=3)} == {
        "skipped"
    }

    import pyarrow as pa

    key = read_snapshot(out)["params_key"]
    cols = [f"{c}__n_values" for c in TABLE_COLS]
    batch = pa.RecordBatch.from_pydict({
        "doc_id": ["b", "a", "b", "b"], **{c: [1, 2, None, 1] for c in cols},
    })
    fp = tableio._table_fingerprint([batch], key, cols)
    assert fp == tableio._table_fingerprint([batch.take([3, 2, 1, 0])], key, cols)
    assert fp == tableio._fingerprint(["b", "a", "b", "b"], [3, 6, 0, 3], [0, 0, 0, 0], key)


@pytest.mark.parametrize("writer", ["tokens", "table"])
def test_rerun_with_added_duplicate_rows(spark, tmp_path, writer):
    """Two identical rows added to a committed input must be encoded on the
    rerun: an XOR fingerprint cancelled them, so every partition came back
    skipped and both rows were silently lost."""
    from rle_array_spark.engine import decode_df
    from rle_array_spark.tableframe import decode_table_df
    from rle_array_spark.tableio import read_blocks, read_table_blocks

    def df(docs):
        return spark.createDataFrame(
            [(d, "s", [i + 1] * 3, 3) for i, d in enumerate(docs)],
            "doc_id string, source string, toks array<int>, n_tok int",
        ).withColumnRenamed("toks", "tokens" if writer == "tokens" else "toks")

    out = str(tmp_path / writer)
    if writer == "tokens":
        def write(docs):
            return encode_to_dir(df(docs), out, num_partitions=4)

        def read():
            return [r["doc_id"] for r in decode_df(read_blocks(spark, out)).collect()]
    else:
        def write(docs):
            return encode_table_to_dir(df(docs), ["toks"], out, num_partitions=4)

        def read():
            rows = decode_table_df(read_table_blocks(spark, out), {"toks": "int"})
            return [r["doc_id"] for r in rows.collect()]

    write(["a", "b"])
    lineage = write(["a", "b", "c", "c"])
    assert "encoded" in {r["status"] for r in lineage}
    assert sum(r["n_rows"] for r in lineage) == 4
    assert sorted(read()) == ["a", "b", "c", "c"]


@pytest.mark.parametrize("chunk_tokens", [None, K])
def test_null_token_array_is_empty_and_rerun_hits(spark, tmp_path, chunk_tokens):
    """A null array<int> holds no values in the token writer: it decodes as
    [], and the rerun's fingerprint pass counts it 0 like the kernel, so
    the rerun is a full hit (chunked and unchunked)."""
    from rle_array_spark.engine import decode_df
    from rle_array_spark.tableio import read_blocks

    rows = [("a", _tokens(5, 0), 5, "s"), ("n", None, 0, "s"), ("b", _tokens(2 * K + 1, 1), 2 * K + 1, "t")]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, n_tok int, source string")
    out = str(tmp_path / "tok")
    encode_to_dir(df, out, num_partitions=3, chunk_tokens=chunk_tokens)
    got = decode_df(read_blocks(spark, out), reassemble_chunks=True).collect()
    assert {r["doc_id"]: r["tokens"] for r in got} == {
        "a": _tokens(5, 0), "n": [], "b": _tokens(2 * K + 1, 1)
    }
    again = encode_to_dir(df, out, num_partitions=3, chunk_tokens=chunk_tokens)
    assert {r["status"] for r in again} == {"skipped"}


def test_null_int_array_in_table_writer(spark, tmp_path):
    """The table writer encodes a null array<int> (and null typed and
    string arrays) as no values: it decodes as [], and the rerun hits."""
    from rle_array_spark.tableframe import decode_table_df
    from rle_array_spark.tableio import read_table_blocks

    rows = [("a", "s", [1, 2], [1.0, None], ["x"]), ("n", "s", None, None, None)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, toks array<int>, vals array<double>, tags array<string>"
    )
    out = str(tmp_path / "table")
    encode_table_to_dir(df, TABLE_COLS, out, num_partitions=2)
    types = {"toks": "int", "vals": "double", "tags": "string"}
    got = {r["doc_id"]: r for r in decode_table_df(read_table_blocks(spark, out), types).collect()}
    assert (got["n"]["toks"], got["n"]["vals"], got["n"]["tags"]) == ([], [], [])
    assert got["a"]["toks"] == [1, 2] and got["a"]["vals"] == [1.0, None]
    again = encode_table_to_dir(df, TABLE_COLS, out, num_partitions=2)
    assert {r["status"] for r in again} == {"skipped"}


# SHA-256 of the data files both writers commit for the inputs of
# test_data_file_bytes_pinned (P = 4, the session of conftest.py). The
# token writer's files are named by partition and fingerprint (the names
# moved once, when the fingerprint became a sum of row hashes; MIGRATION.md);
# the table writer's by partition here, since its fingerprints changed
# twice while its bytes did not.
TOKEN_FILES = {
    "part-00000-81ff24feece2dd43.parquet": "d10c3faa93c72635dc624fc73f69a4c2cf799c6ae6bd823e38547cf9f898793a",
    "part-00001-6470c69719ec0ac9.parquet": "0412203a8e1f7c45c0282dda52f78589ce925141d4edb496fb0f07ff68b613e0",
    "part-00002-431aecceda98cf45.parquet": "42fc3a81e7d8e40132a5ecf3eadf2318a929392ee0607a9718938c611335db4c",
    "part-00003-b3357e87e188d86e.parquet": "ec13d3d6cac7f820c9818abe1323dc930c1dfef7ba0746908f5633f046e15b7a",
}
TABLE_FILES = {
    "00000": "65ed11db912f4f4c5c50b5a47a499a0fa3d9307eb0170fd1a83dfd5bde0e4192",
    "00001": "fc602c04c89fae765faf764c540c0c8145a6d804e4cfdcd3576e7b79a2495e7a",
    "00002": "65294e43373d3e9d4fa4ee7179e3937c3fc61e40fcaaa94d6002616f48944b6f",
}


def test_data_file_bytes_pinned(spark, tmp_path):
    """The committed bytes of both writers do not move: a giant split by
    ``chunk_tokens="auto"`` (encoded in either order) and the table
    writer's duplicate doc_ids, against digests of an earlier commit."""
    import pyarrow.parquet as pq

    from rle_array_spark.datagen import generate_table

    src = str(tmp_path / "seq.parquet")
    pq.write_table(generate_table(1, 6, include_edges=True), src)
    df = spark.read.parquet(src)
    for encode_first in (True, False):
        out = str(tmp_path / f"tok{int(encode_first)}")
        encode_to_dir(df, out, num_partitions=4, chunk_tokens="auto", encode_first=encode_first)
        assert read_snapshot(out)["chunk_tokens"] == tableio.AUTO_CHUNK_MIN
        got = _file_hashes(out)
        assert sorted(got.values()) == sorted(TOKEN_FILES.values())
        if encode_first:  # the other order has its own params, so names
            assert got == TOKEN_FILES
    out = str(tmp_path / "table")
    encode_table_to_dir(_table_df(spark), TABLE_COLS, out, num_partitions=4)
    assert {k.split("-")[1]: v for k, v in _file_hashes(out).items()} == TABLE_FILES


def _rest(sc, path):
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.load(r)


def _stage_totals(sc, group):
    """(executed stages, shuffle write bytes) of a job group, from the
    status REST endpoint once its jobs have left RUNNING."""
    deadline = time.monotonic() + 30
    while True:
        jobs = [j for j in _rest(sc, "/jobs") if j.get("jobGroup") == group]
        if jobs and all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    ids = {s for j in jobs for s in j["stageIds"]}
    ran = [s for s in _rest(sc, "/stages") if s["stageId"] in ids and s["numCompleteTasks"] > 0]
    return len(ran), sum(s["shuffleWriteBytes"] for s in ran)


def _sql_executions(sc, after=-1):
    """The SQL executions with an id above ``after``, once none is running."""
    deadline = time.monotonic() + 30
    while True:
        runs = [e for e in _rest(sc, "/sql?details=true&offset=0&length=100000") if e["id"] > after]
        if all(e["status"] == "COMPLETED" for e in runs) or time.monotonic() > deadline:
            return runs
        time.sleep(0.2)


def _grouped(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup("", "")


@pytest.mark.parametrize("writer", ["tokens", "tokens-auto", "table"])
def test_full_hit_runs_no_encode(spark, sequences, tmp_path, writer):
    sc = spark.sparkContext
    out = str(tmp_path / writer)
    if writer != "table":
        chunk_tokens = "auto" if writer == "tokens-auto" else None

        def write():
            return encode_to_dir(sequences, out, num_partitions=6, chunk_tokens=chunk_tokens)
    else:
        df = _table_df(spark)

        def write():
            return encode_table_to_dir(df, TABLE_COLS, out, num_partitions=6, commit_mode="manifest")

    tag = f"{writer}-{os.getpid()}"
    first = _grouped(sc, f"write-{tag}", write)
    files = _file_hashes(out)
    stages_w, shuffle_w = _stage_totals(sc, f"write-{tag}")
    before = max((e["id"] for e in _sql_executions(sc)), default=-1)
    again = _grouped(sc, f"rerun-{tag}", write)
    stages_r, shuffle_r = _stage_totals(sc, f"rerun-{tag}")
    runs = _sql_executions(sc, before)

    # write: the encode at scan, then the payload shuffle into the kernel
    # (after the two stages of the sizing aggregate on an auto first write)
    assert stages_w == (4 if writer == "tokens-auto" else 2) and shuffle_w > 0
    # the rerun is one JVM aggregate: one SQL execution, no Python node
    # (an auto rerun sizes its chunks in the same aggregate)
    assert len(runs) == 1, [e["description"] for e in runs]
    nodes = [n["nodeName"] for n in runs[0]["nodes"]]
    assert not [n for n in nodes if "Python" in n or "Arrow" in n or "Pandas" in n], nodes
    if writer != "table":
        # the fingerprint aggregate: per-partition sums shuffle, no rows
        assert stages_r == 2 and 0 < shuffle_r < shuffle_w / 10, (stages_r, shuffle_r, shuffle_w)
    else:
        # the same aggregate: per-partition sums shuffle, no rows
        assert stages_r == 2 and 0 < shuffle_r < shuffle_w, (stages_r, shuffle_r, shuffle_w)
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
    new parameters takes the full write path without paying for it."""
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
    calls = []
    real = tableio._salted_fingerprints
    monkeypatch.setattr(tableio, "_salted_fingerprints", lambda *a: calls.append(a) or real(*a))
    assert "encoded" in {r["status"] for r in write(4)}  # crashed first write: no snapshot
    assert calls == []
    write(5)  # new parameters
    assert calls == []
    assert {r["status"] for r in write(5)} == {"skipped"}
    assert len(calls) == 1
    assert "encoded" in {r["status"] for r in write(5, grown=True)}
    assert len(calls) == 2


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


def test_commit_refuses_a_vacuumed_file(tmp_path):
    """A second writer's data files are not committed yet, so a vacuum
    during its run deletes them. Its commit then raises, naming the
    partition, and claims no version, instead of committing a snapshot
    whose files are gone."""
    out = str(tmp_path / "race")
    for sub in ("blocks", "snapshots"):
        os.makedirs(os.path.join(out, sub))

    def written(part_id, fp):
        with open(tableio._data_path(out, part_id, fp), "wb") as f:
            f.write(b"x")
        return {"part_id": part_id, "fingerprint": fp, "n_rows": 3}

    tableio._commit_snapshot(out, {"codec": "a"}, "k", [written(0, "a" * 32)])
    second = [written(0, "b" * 32), written(1, "c" * 32)]
    assert len(tableio.vacuum(out)) == 2
    with pytest.raises(FileNotFoundError, match="partition 0"):
        tableio._commit_snapshot(out, {"codec": "b"}, "k", second)
    assert sorted(os.listdir(os.path.join(out, "snapshots"))) == ["v1.claim", "v1.json"]
    assert tableio.read_manifest(out)["latest"] == 1


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


def test_crash_between_snapshot_and_pointer(tmp_path, monkeypatch):
    """A commit that dies after writing ``v{N}.json`` but before replacing
    ``_manifest.json`` leaves readers on version N-1; the next commit
    lands at N+1 and the pointer names it."""
    out = str(tmp_path / "torn")
    os.makedirs(os.path.join(out, "snapshots"))
    row = {"part_id": 0, "fingerprint": "0" * 32, "n_rows": 0}
    tableio._commit_snapshot(out, {"codec": "v1"}, "k", [row])
    write_json = tableio._write_json

    def crash_on_pointer(path, obj, indent=None):
        if os.path.basename(path) == "_manifest.json":
            raise OSError("crash before the pointer update")
        write_json(path, obj, indent)

    monkeypatch.setattr(tableio, "_write_json", crash_on_pointer)
    with pytest.raises(OSError, match="crash before the pointer update"):
        tableio._commit_snapshot(out, {"codec": "v2"}, "k", [row])
    monkeypatch.setattr(tableio, "_write_json", write_json)
    assert os.path.exists(os.path.join(out, "snapshots", "v2.json"))
    assert tableio.read_manifest(out)["latest"] == 1
    assert read_snapshot(out)["codec"] == "v1"

    tableio._commit_snapshot(out, {"codec": "v3"}, "k", [row])
    pointer = tableio.read_manifest(out)
    assert pointer["latest"] == 3 and pointer["codec"] == "v3"
    assert read_snapshot(out)["version"] == 3
