"""Stat-checked zip importers: a worker's zip archives are re-read only when
they change on disk, and nothing changes outside a Spark Python task.
Only the last test starts a Spark session."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from rle_array_spark import _zipcache

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def import_state(monkeypatch):
    """A copy of ``sys.path_hooks`` and an empty ``sys.path_importer_cache``,
    so ``install`` never retypes an importer of the test process."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", {})
    names = set(sys.modules)
    yield monkeypatch
    for name in set(sys.modules) - names:
        del sys.modules[name]


@pytest.fixture
def reads(import_state):
    """Counts ``zipimport._read_directory`` calls."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    import_state.setattr(zipimport, "_read_directory", counting)
    return calls


def _zip_package(tmp_path, import_state, modules):
    """A zip holding package ``pkg_<uuid>`` with ``modules``, on sys.path."""
    pkg = f"pkg_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{pkg}.zip")
    _write_zip(path, {f"{pkg}/__init__.py": "", **{f"{pkg}/{m}.py": f"X = {m!r}" for m in modules}})
    import_state.syspath_prepend(path)
    return pkg, path


def test_unchanged_archive_is_not_reread(tmp_path, import_state, reads):
    pkg, path = _zip_package(tmp_path, import_state, ["a"])
    importlib.import_module(f"{pkg}.a")
    # two importers: the archive on sys.path and the package's own path;
    # unpatched, each re-reads the archive on every call
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path, path]
    _zipcache.install()
    zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
    assert len(zips) == 2 and {type(v) for v in zips} == {_zipcache.StatCheckedZipImporter}
    importlib.invalidate_caches()  # each importer's first check reads
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(tmp_path, import_state, reads):
    """An archive rewritten in place with a new module is read again, once
    by each of its importers, and the new module imports."""
    pkg, path = _zip_package(tmp_path, import_state, ["a"])
    _zipcache.install()
    assert importlib.import_module(f"{pkg}.a").X == "a"
    importlib.invalidate_caches()
    before = os.stat(path).st_mtime_ns
    _write_zip(path, {f"{pkg}/__init__.py": "", f"{pkg}/a.py": "X = 'a'", f"{pkg}/b.py": "X = 'b'"})
    os.utime(path, ns=(before + 10**9, before + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [path, path]
    assert importlib.import_module(f"{pkg}.b").X == "b"


def test_install_is_idempotent(tmp_path, import_state):
    pkg, _ = _zip_package(tmp_path, import_state, ["a"])
    importlib.import_module(f"{pkg}.a")  # plain importers, retyped by install
    _zipcache.install()
    hooks = list(sys.path_hooks)
    cache = dict(sys.path_importer_cache)
    _zipcache.install()
    assert sys.path_hooks == hooks and sys.path_importer_cache == cache
    assert hooks.count(_zipcache.StatCheckedZipImporter) == 1
    assert zipimport.zipimporter not in hooks
    zips = [v for v in cache.values() if isinstance(v, zipimport.zipimporter)]
    assert zips and all(type(v) is _zipcache.StatCheckedZipImporter for v in zips)


@pytest.mark.parametrize("version, installs", [((3, 12, 0), True), ((3, 13, 0), False)])
def test_install_in_worker_gates(import_state, version, installs):
    """Inside a task (TaskContext set) it installs, unless CPython reads
    zip directories lazily already (3.13+)."""
    from pyspark import TaskContext

    import_state.setattr(sys, "version_info", version)
    import_state.setattr(TaskContext, "_taskContext", object())
    _zipcache.install_in_worker()
    assert (_zipcache.StatCheckedZipImporter in sys.path_hooks) is installs


def test_driver_import_leaves_import_state(tmp_path):
    """Importing the package on the driver (pyspark imported, no task
    running) keeps every path hook and every cached importer as it was."""
    path = str(tmp_path / "drv.zip")
    _write_zip(path, {"drvmod_zipcache.py": "X = 1"})
    script = f"""
import sys, zipimport
sys.path.append({path!r})
import drvmod_zipcache
from pyspark import TaskContext
assert TaskContext.get() is None
hooks = list(sys.path_hooks)
cache = dict(sys.path_importer_cache)
import rle_array_spark
assert sys.path_hooks == hooks
assert all(sys.path_importer_cache[k] is v for k, v in cache.items())
assert type(sys.path_importer_cache[{path!r}]) is zipimport.zipimporter
assert not any(
    isinstance(v, rle_array_spark._zipcache.StatCheckedZipImporter)
    for v in sys.path_importer_cache.values()
)
"""
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]


def test_worker_importers_after_kernel(spark, sequences, tmp_path):
    """In the workers, after a kernel ran, every cached zip importer is the
    stat-checked class; a zip shipped later with ``addPyFile`` still
    imports in a later task, which is what Spark's per-task invalidation
    is for."""
    import pyarrow as pa

    from rle_array_spark.engine import encode_df

    assert encode_df(sequences).count() > 0

    def importer_classes(batches):
        import rle_array_spark  # noqa: F401  (a no-op when a kernel already imported it)

        for _ in batches:
            pass
        zips = [v for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)]
        plain = sum(type(v) is zipimport.zipimporter for v in zips)
        yield pa.RecordBatch.from_pydict({"zips": [len(zips)], "plain": [plain]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(importer_classes, "zips long, plain long").collect()
    assert len(rows) == n
    assert all(r["zips"] > 0 and r["plain"] == 0 for r in rows), rows

    name = f"shipped_{uuid.uuid4().hex}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {f"{name}.py": "X = 7"})
    spark.sparkContext.addPyFile(path)

    def import_shipped(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"x": [importlib.import_module(name).X]})

    rows = spark.range(0, n, 1, n).mapInArrow(import_shipped, "x long").collect()
    assert [r["x"] for r in rows] == [7] * n
