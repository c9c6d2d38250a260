"""Zip importers that re-read an archive only when it changed on disk.

Every Spark Python task starts with ``importlib.invalidate_caches()``
(pyspark's ``setup_spark_files``), so that zips shipped with
``addPyFile`` since the last task become importable. On CPython <= 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's whole directory,
once per importer. A worker holds one importer per imported subpackage of
``pyspark.zip``, plus two on the spark-core jar that Spark puts on the
worker ``PYTHONPATH``, and those re-reads cost 0.2-0.4 s of every task
(BASELINE.md, "Per-task zip re-reads"). CPython 3.13 reads lazily.

``install_in_worker`` runs when the package is imported. Inside a Spark
Python task it makes every zip importer of the worker re-read its archive
only when the archive's ``(st_mtime_ns, st_size)`` changed since that
importer last read it. Zips added later still get an importer through
``sys.path_hooks``.
"""

from __future__ import annotations

import os
import sys
import zipimport


class StatCheckedZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` changed since this importer last
    read it."""

    _stamp = None  # none yet (new or just retyped): the first call reads

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Put ``StatCheckedZipImporter`` in place of ``zipimporter`` in
    ``sys.path_hooks`` and on every zip importer in
    ``sys.path_importer_cache``. Idempotent."""
    for i, hook in enumerate(sys.path_hooks):
        if hook is zipimport.zipimporter:
            sys.path_hooks[i] = StatCheckedZipImporter
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            # Retype in place rather than replace: these objects are also
            # the loaders of the modules they imported, which must keep
            # seeing a changed archive too.
            importer.__class__ = StatCheckedZipImporter


def install_in_worker() -> None:
    """``install()`` inside a Spark Python task on CPython < 3.13; a no-op
    anywhere else, the driver included."""
    if sys.version_info >= (3, 13):
        return
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install()
