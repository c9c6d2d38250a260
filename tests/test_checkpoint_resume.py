"""Checkpointed-resume tests (SURVEY.md §5 plan: kill after k partitions,
rerun, assert identical final table and no double-encoded partitions)."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from rle_array_spark.engine import verify_roundtrip
from rle_array_spark.tableio import encode_to_dir, read_blocks, read_manifest

N_PARTS = 6


def _file_hashes(out_dir):
    out = {}
    for p in sorted(glob.glob(os.path.join(out_dir, "blocks", "*.parquet"))):
        out[os.path.basename(p)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def test_encode_to_dir_roundtrip_and_lineage(spark, sequences, tmp_path):
    out = str(tmp_path / "enc")
    lineage = encode_to_dir(sequences, out, num_partitions=N_PARTS)
    assert len(lineage) == N_PARTS
    assert {r["status"] for r in lineage} == {"encoded"}
    assert sum(r["n_rows"] for r in lineage) == sequences.count()
    blocks = read_blocks(spark, out)
    assert verify_roundtrip(sequences, blocks) == 0
    man = read_manifest(out)
    assert len(man["partitions"]) == N_PARTS
    # lineage byte accounting matches the blocks table
    agg = blocks.agg(F.sum("encoded_bytes").alias("e")).collect()[0]
    assert agg["e"] == sum(r["encoded_bytes"] for r in lineage)


def test_rerun_skips_all_partitions(spark, sequences, tmp_path):
    out = str(tmp_path / "enc")
    encode_to_dir(sequences, out, num_partitions=N_PARTS)
    before = _file_hashes(out)
    lineage2 = encode_to_dir(sequences, out, num_partitions=N_PARTS)
    assert {r["status"] for r in lineage2} == {"skipped"}
    assert _file_hashes(out) == before


def test_resume_after_injected_failure(spark, sequences, tmp_path, settled_count):
    out = str(tmp_path / "enc")
    with pytest.raises(Exception, match="injected failure"):
        encode_to_dir(sequences, out, num_partitions=N_PARTS, fail_at_partition=N_PARTS - 1)
    done_before = settled_count(os.path.join(out, "blocks", "*.parquet"))
    assert 0 < done_before < N_PARTS  # some partitions committed, not all

    lineage = encode_to_dir(sequences, out, num_partitions=N_PARTS)
    statuses = {r["part_id"]: r["status"] for r in lineage}
    assert sum(1 for s in statuses.values() if s == "skipped") >= done_before - 1
    assert sum(1 for s in statuses.values() if s == "encoded") >= 1

    blocks = read_blocks(spark, out)
    assert blocks.select("doc_id").distinct().count() == sequences.count()
    assert verify_roundtrip(sequences, blocks) == 0

    # A clean from-scratch encode produces byte-identical partition files.
    ref = str(tmp_path / "ref")
    encode_to_dir(sequences, ref, num_partitions=N_PARTS)
    assert _file_hashes(out) == _file_hashes(ref)


def test_manifest_mode_resume_without_sidecars(spark, sequences, tmp_path, settled_count):
    """Sidecar-less (object-store-safe) protocol: the data file itself is
    the checkpoint. Crash → resume must skip committed partitions with NO
    lineage sidecars on disk, and lineage stats must be rebuilt exactly."""
    out = str(tmp_path / "enc")
    with pytest.raises(Exception, match="injected failure"):
        encode_to_dir(
            sequences, out, num_partitions=N_PARTS,
            fail_at_partition=N_PARTS - 1, commit_mode="manifest",
        )
    done_before = settled_count(os.path.join(out, "blocks", "*.parquet"))
    assert glob.glob(os.path.join(out, "lineage", "*.json")) == []
    assert 0 < done_before < N_PARTS

    lineage = encode_to_dir(
        sequences, out, num_partitions=N_PARTS, commit_mode="manifest"
    )
    statuses = {r["part_id"]: r["status"] for r in lineage}
    assert sum(1 for s in statuses.values() if s == "skipped") >= done_before - 1
    assert sum(1 for s in statuses.values() if s == "encoded") >= 1
    assert glob.glob(os.path.join(out, "lineage", "*.json")) == []

    blocks = read_blocks(spark, out)
    assert verify_roundtrip(sequences, blocks) == 0

    # skipped partitions' rebuilt lineage stats match an encoded-from-scratch run
    ref = str(tmp_path / "ref")
    ref_lineage = encode_to_dir(
        sequences, ref, num_partitions=N_PARTS, commit_mode="manifest"
    )
    assert _file_hashes(out) == _file_hashes(ref)
    keys = ("n_rows", "n_tokens", "raw_bytes", "encoded_bytes",
            "ref_rle_bytes", "tok_sum", "codec_histogram", "fingerprint")
    got = {r["part_id"]: tuple(r[k] for k in keys) for r in lineage}
    exp = {r["part_id"]: tuple(r[k] for k in keys) for r in ref_lineage}
    assert got == exp


def test_manifest_mode_torn_file_reencoded(spark, sequences, tmp_path):
    """A torn data file (mid-write crash without atomic rename) must fail
    the validating read and be re-encoded, not trusted."""
    out = str(tmp_path / "enc")
    encode_to_dir(sequences, out, num_partitions=N_PARTS, commit_mode="manifest")
    victim = sorted(glob.glob(os.path.join(out, "blocks", "*.parquet")))[0]
    data = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(data[: len(data) // 2])  # truncate: invalid parquet footer

    lineage = encode_to_dir(sequences, out, num_partitions=N_PARTS, commit_mode="manifest")
    statuses = [r["status"] for r in lineage]
    assert statuses.count("encoded") == 1
    assert statuses.count("skipped") == N_PARTS - 1
    assert hashlib.sha256(open(victim, "rb").read()).hexdigest() == hashlib.sha256(data).hexdigest()
    assert verify_roundtrip(sequences, read_blocks(spark, out)) == 0


def test_manifest_mode_resumes_sidecar_run(spark, sequences, tmp_path):
    """The two protocols interoperate: data files are byte-identical, so a
    manifest-mode rerun skips everything a sidecar-mode run committed."""
    out = str(tmp_path / "enc")
    encode_to_dir(sequences, out, num_partitions=N_PARTS)  # sidecar mode
    lineage = encode_to_dir(sequences, out, num_partitions=N_PARTS, commit_mode="manifest")
    assert {r["status"] for r in lineage} == {"skipped"}


def test_param_change_writes_new_snapshot(spark, sequences, tmp_path):
    """Changing the codec produces new immutable files + a new snapshot;
    the old snapshot remains readable (time travel)."""
    out = str(tmp_path / "enc")
    encode_to_dir(sequences, out, num_partitions=N_PARTS, codec="rle")
    lineage = encode_to_dir(sequences, out, num_partitions=N_PARTS, codec="auto")
    assert {r["status"] for r in lineage} == {"encoded"}  # new fingerprints
    assert read_manifest(out)["codec"] == "auto"

    from rle_array_spark.tableio import read_snapshot

    v1, v2 = read_snapshot(out, 1), read_snapshot(out, 2)
    assert v1["codec"] == "rle" and v2["codec"] == "auto"
    assert set(v1["files"]).isdisjoint(v2["files"])

    old = read_blocks(spark, out, snapshot=1)
    assert old.select("codec").distinct().collect() == [("rle",)]
    assert verify_roundtrip(sequences, old) == 0  # time-traveled read decodes
    new = read_blocks(spark, out)  # latest
    assert new.select("codec").distinct().count() > 1


def test_vacuum_removes_unreferenced_files(spark, sequences, tmp_path):
    from rle_array_spark.tableio import vacuum

    out = str(tmp_path / "enc")
    encode_to_dir(sequences, out, num_partitions=N_PARTS, codec="rle")
    encode_to_dir(sequences, out, num_partitions=N_PARTS, codec="auto")
    assert vacuum(out) == []  # both snapshots still reference their files
    deleted = vacuum(out, keep_snapshots=1)
    assert len(deleted) == N_PARTS  # v1's files expired with it
    blocks = read_blocks(spark, out)
    assert verify_roundtrip(sequences, blocks) == 0


@pytest.mark.parametrize("keep", [0, -1])
def test_vacuum_rejects_keep_below_one(tmp_path, keep):
    """keep_snapshots < 1 raises before any file is touched (0 used to keep
    every snapshot, -1 to expire the oldest one and its data file)."""
    import json

    from rle_array_spark.tableio import vacuum

    out = tmp_path / "enc"
    (out / "snapshots").mkdir(parents=True)
    (out / "blocks").mkdir()
    for v in (1, 2):
        (out / "blocks" / f"part-{v}.parquet").write_bytes(b"x")
        (out / "snapshots" / f"v{v}.json").write_text(json.dumps({"files": [f"part-{v}.parquet"]}))
    before = sorted(p.name for p in out.rglob("*"))
    with pytest.raises(ValueError, match="keep_snapshots"):
        vacuum(str(out), keep_snapshots=keep)
    assert sorted(p.name for p in out.rglob("*")) == before


def test_crash_leaves_no_visible_snapshot(spark, sequences, tmp_path):
    out = str(tmp_path / "enc")
    with pytest.raises(Exception, match="injected failure"):
        encode_to_dir(sequences, out, num_partitions=N_PARTS, fail_at_partition=0)
    with pytest.raises(FileNotFoundError):
        read_blocks(spark, out)  # no committed snapshot → table invisible
    encode_to_dir(sequences, out, num_partitions=N_PARTS)
    assert verify_roundtrip(sequences, read_blocks(spark, out)) == 0
