"""The hot-started Python daemon: the byte-compiled copy of ``pyspark.zip``
(its cache key, its publication, its fallbacks), the guard that decides
whether ``engine.session()`` uses the daemon, and, on the shared session,
workers that load pyspark from the copy and never re-read a zip archive on
a task. Only the last test starts a Spark session."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from rle_array_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_pyspark(path, body="X = 1"):
    """A ``pyspark.zip`` holding a package ``pyspark`` with a ``daemon``
    module."""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", body)
        z.writestr("pyspark/daemon.py", "def manager():\n    return 'ran'\n")
    return str(path)


def test_key_follows_size_and_mtime(tmp_path):
    archive = _fake_pyspark(tmp_path / "pyspark.zip")
    key = _daemon.copy_key(archive)
    assert _daemon.copy_key(archive) == key
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = _daemon.copy_key(archive)
    assert moved != key
    _fake_pyspark(archive, "X = 22")  # one byte longer
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _daemon.copy_key(archive) not in (key, moved)


def test_copy_is_built_once_and_published_whole(tmp_path):
    archive = _fake_pyspark(tmp_path / "pyspark.zip")
    root = str(tmp_path / "cache")
    stray = os.path.join(_daemon.private_dir(root), ".tmp-stray")
    os.makedirs(os.path.join(stray, "pyspark"))  # a crashed build's leftovers
    copy = _daemon.compiled_copy(archive, root)
    assert os.path.dirname(copy) == root and not os.path.basename(copy).startswith(".tmp-")
    with zipfile.ZipFile(archive) as z:
        for name in z.namelist():
            with open(os.path.join(copy, name), "rb") as f:
                assert f.read() == z.read(name)
    assert sorted(os.listdir(root)) == sorted([".tmp-stray", os.path.basename(copy)])
    mtime = os.stat(os.path.join(copy, "pyspark", "__init__.py")).st_mtime_ns
    assert _daemon.compiled_copy(archive, root) == copy
    assert os.stat(os.path.join(copy, "pyspark", "__init__.py")).st_mtime_ns == mtime


def test_partial_copy_is_never_used(tmp_path):
    """A copy without its completion marker (or with another key in it) is
    refused, not completed or trusted."""
    archive = _fake_pyspark(tmp_path / "pyspark.zip")
    root = str(tmp_path / "cache")
    final = os.path.join(_daemon.private_dir(root), f"pyspark.zip-{_daemon.copy_key(archive)}")
    os.makedirs(os.path.join(final, "pyspark"))
    with pytest.raises(OSError, match="not a complete copy"):
        _daemon.compiled_copy(archive, root)
    with open(os.path.join(final, _daemon.MARKER), "w") as f:
        f.write("another key")
    with pytest.raises(OSError, match="not a complete copy"):
        _daemon.compiled_copy(archive, root)


def test_cache_dir_must_be_private(tmp_path, monkeypatch):
    open_dir = tmp_path / "open"
    open_dir.mkdir(mode=0o755)
    os.chmod(open_dir, 0o755)
    with pytest.raises(OSError, match="not a private directory"):
        _daemon.private_dir(str(open_dir))
    mine = _daemon.private_dir(str(tmp_path / "mine"))
    monkeypatch.setattr(os, "getuid", lambda: os.stat(mine).st_uid + 1)
    with pytest.raises(OSError, match="not a private directory"):
        _daemon.private_dir(mine)


def _import_daemon(tmp_path, cache_home):
    """In a fresh interpreter that does not write bytecode, with a fake
    ``pyspark.zip`` first on its path: where ``import_daemon`` loaded
    pyspark from, and the interpreter's flag afterwards."""
    archive = str(tmp_path / "pyspark.zip")
    if not os.path.exists(archive):
        _fake_pyspark(archive)
    script = (
        "import sys; from rle_array_spark import _daemon; d = _daemon.import_daemon(); "
        "print(d.__file__); print(d.manager()); print(sys.dont_write_bytecode)"
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([archive, REPO]),
           "XDG_CACHE_HOME": str(cache_home), "PYTHONDONTWRITEBYTECODE": "1"}
    out = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    return archive, out.stdout.split()


def test_daemon_imports_from_the_copy_and_writes_only_its_bytecode(tmp_path):
    archive, (path, ran, flag) = _import_daemon(tmp_path, tmp_path / "xdg")
    root = str(tmp_path / "xdg" / "rle_array_spark")
    copy = os.path.join(root, f"pyspark.zip-{_daemon.copy_key(archive)}")
    assert path == os.path.join(copy, "pyspark", "daemon.py") and ran == "ran" and flag == "True"
    cached = os.listdir(os.path.join(copy, "pyspark", "__pycache__"))
    assert sorted(c.split(".")[0] for c in cached) == ["__init__", "daemon"]


@pytest.mark.parametrize("case", ["file", "foreign", "partial"])
def test_daemon_falls_back_to_the_zip(tmp_path, case):
    """An unusable cache directory (a file where it should be, a directory
    open to others) or a partial copy leaves pyspark loading from the zip."""
    home = tmp_path / "xdg"
    home.mkdir()
    if case == "file":
        (home / "rle_array_spark").write_text("")
    elif case == "foreign":
        (home / "rle_array_spark").mkdir()
        os.chmod(home / "rle_array_spark", 0o777)
    else:
        archive = _fake_pyspark(tmp_path / "pyspark.zip")
        root = _daemon.private_dir(str(home / "rle_array_spark"))
        os.makedirs(os.path.join(root, f"pyspark.zip-{_daemon.copy_key(archive)}", "pyspark"))
    archive, (path, ran, flag) = _import_daemon(tmp_path, home)
    assert path == os.path.join(archive, "pyspark", "daemon.py") and ran == "ran" and flag == "True"


def test_guard_needs_the_package_on_the_worker_path(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(_daemon.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(_daemon.site, "ENABLE_USER_SITE", False)
    monkeypatch.chdir(tmp_path)
    assert not _daemon.worker_can_import()  # a --py-files-only deployment
    monkeypatch.setenv("PYTHONPATH", REPO)
    assert _daemon.worker_can_import()
    (tmp_path / "rle_array_spark").mkdir()  # another copy first on the path
    assert not _daemon.worker_can_import()
    monkeypatch.chdir(REPO)
    assert _daemon.worker_can_import()
    monkeypatch.setenv("PYSPARK_PYTHON", "false")  # runs, but is not this interpreter
    assert not _daemon.worker_can_import()
    monkeypatch.setenv("PYSPARK_PYTHON", str(tmp_path / "no-such-python"))
    assert not _daemon.worker_can_import()


def test_workers_load_pyspark_from_the_copy(spark):
    """On the shared session the daemon runs from this package: a worker's
    pyspark comes from the compiled copy, and a task's import-cache
    invalidation reads no zip archive (every zip importer is stamped)."""
    import pyarrow as pa

    conf = spark.sparkContext.getConf().get("spark.python.daemon.module")
    if conf is None:
        pytest.skip("the session's workers cannot import the package at daemon start")
    assert conf == "rle_array_spark._daemon"

    def probe(batches):
        import importlib
        import zipimport

        import pyspark

        for _ in batches:
            pass
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "pyspark": [pyspark.__file__], "zips": [len(zips)], "reads": [len(reads)],
            "unstamped": [sum(getattr(v, "_stamp", None) is None for v in zips)],
        })

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(
        probe, "pyspark string, zips long, reads long, unstamped long").collect()
    assert len(rows) == n
    root = _daemon.cache_dir()
    assert all(r["pyspark"].startswith(root + os.sep) for r in rows), rows
    assert all(r["zips"] > 0 and r["reads"] == 0 and r["unstamped"] == 0 for r in rows), rows
