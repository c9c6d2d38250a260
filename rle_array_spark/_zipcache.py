"""Zip importers that re-read an archive only when it changed on disk.

Every Spark Python task starts with ``importlib.invalidate_caches()``
(pyspark's ``setup_spark_files``), so that zips shipped with
``addPyFile`` since the last task become importable. On CPython <= 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's whole directory,
once per importer. A worker holds one importer per imported subpackage of
``pyspark.zip``, plus two on the spark-core jar that Spark puts on the
worker ``PYTHONPATH``, and those re-reads cost 0.2-0.4 s of every task
(BASELINE.md, "Per-task zip re-reads"). CPython 3.13 reads lazily.

``install`` makes every zip importer re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since that importer last read
it, reads each archive once and stamps its importers. Zips added later
still get an importer through ``sys.path_hooks``; one over an archive
already read takes that read's stamp. The daemon of a session built by
``engine.session()`` calls it before its first fork (``_daemon.py``), so
no worker reads an archive on its first task. ``install_in_worker`` runs
when the package is imported, and calls it inside a Spark Python task of
any other session.
"""

from __future__ import annotations

import os
import sys
import zipimport


_reads: dict = {}  # archive -> (stamp, directory) of its last read by the class


def _stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` changed since this importer last
    read it."""

    _stamp = None  # none yet (just retyped, or a fresh read): the first call reads

    def __init__(self, path):
        super().__init__(path)
        stamp, files = _reads.get(self.archive, (None, None))
        if files is self._files:  # built from this class's last read of the archive
            self._stamp = stamp

    def invalidate_caches(self):
        stamp = _stat(self.archive)  # before the read: a change during it reads again
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp
            _reads[self.archive] = (stamp, self._files)


def install() -> None:
    """Put ``StatCheckedZipImporter`` in place of ``zipimporter`` in
    ``sys.path_hooks`` and on every zip importer in
    ``sys.path_importer_cache``, then read each archive once and stamp
    its importers. Idempotent."""
    for i, hook in enumerate(sys.path_hooks):
        if hook is zipimport.zipimporter:
            sys.path_hooks[i] = StatCheckedZipImporter
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            # Retype in place rather than replace: these objects are also
            # the loaders of the modules they imported, which must keep
            # seeing a changed archive too.
            importer.__class__ = StatCheckedZipImporter
        if isinstance(importer, StatCheckedZipImporter):
            stamp, files = _reads.get(importer.archive, (None, None))
            if stamp is not None and stamp == _stat(importer.archive):
                importer._files, importer._stamp = files, stamp
            else:
                importer.invalidate_caches()


def install_in_worker() -> None:
    """``install()`` inside a Spark Python task on CPython < 3.13; a no-op
    anywhere else, the driver included."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install()
