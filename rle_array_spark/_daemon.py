"""Spark's Python daemon, started hot.

``engine.session()`` runs the Python daemon of a local session as
``python -m rle_array_spark._daemon`` (``spark.python.daemon.module``).
Before the daemon imports any pyspark code, this module

1. puts a private, byte-compiled copy of Spark's ``pyspark.zip`` in place
   of the archive on ``sys.path``. Spark's archive holds no bytecode and
   Spark runs its workers with ``PYTHONDONTWRITEBYTECODE=1``, so every
   daemon start compiled ~90 pyspark modules from source (0.4 s). The copy
   holds the archive's files unchanged; the modules the daemon imports
   write their bytecode next to them, once;
2. makes every zip importer read its archive once and stamps it
   (``_zipcache.install``), so that no forked worker re-reads an archive
   on its first task;
3. runs ``pyspark.daemon.manager()``.

The copy lives in ``$XDG_CACHE_HOME/rle_array_spark`` (``~/.cache`` by
default), a directory of mode 0700 owned by the user. It is named by a key
of the archive's path, size, mtime and the interpreter's bytecode tag, and
is built in a ``.tmp-<pid>-*`` directory, then published by one rename, so
a stale or half-built copy is never used; the next build removes the
``.tmp-<pid>-*`` entries of builders that died. Any error falls back to the
archive itself. Remove the directory to clear the cache.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.machinery as machinery
import os
import re
import shutil
import site
import stat
import subprocess
import sys
import tempfile
import zipfile

from rle_array_spark import _zipcache

MARKER = ".complete"  # written last into a copy, holds its key


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "rle_array_spark")


def private_dir(path: str) -> str:
    """``path``, created with mode 0700; raises ``OSError`` unless it is a
    directory of this user that no one else may write or read."""
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
        raise OSError(f"{path} is not a private directory of this user")
    return path


def alive(pid: int) -> bool:
    """Whether process ``pid`` runs (a zombie does not)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:  # no /proc: os.kill found it
        return True


def claim(path: str) -> bool:
    """Create ``path`` holding this process's pid (``O_EXCL``); False when
    a running process holds it. A claim whose process is gone is taken
    over."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600)
        except FileExistsError:
            try:
                with open(path) as f:
                    pid = int(f.read())
            except (OSError, ValueError):  # still being written, or just released
                return False
            if alive(pid):
                return False
            with contextlib.suppress(OSError):
                os.unlink(path)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def sweep(root: str) -> None:
    """Remove the ``.tmp-<pid>-*`` entries under ``root`` whose builder
    process is gone."""
    for name in os.listdir(root):
        m = re.match(r"\.tmp-(\d+)-", name)
        if m and not alive(int(m.group(1))):
            path = os.path.join(root, name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                with contextlib.suppress(OSError):
                    os.unlink(path)


def copy_key(archive: str) -> str:
    st = os.stat(archive)
    raw = "\0".join([os.path.realpath(archive), str(st.st_size), str(st.st_mtime_ns),
                     sys.implementation.cache_tag])
    return hashlib.sha256(raw.encode()).hexdigest()[:24]


def compiled_copy(archive: str, root: str | None = None) -> str:
    """The directory holding the files of ``archive``, built on first use
    under ``root`` (default :func:`cache_dir`). Raises ``OSError`` when the
    cache is not private or the archive changes while it is copied."""
    root = private_dir(root or cache_dir())
    key = copy_key(archive)
    final = os.path.join(root, f"{os.path.basename(archive)}-{key}")
    if not os.path.isdir(final):
        sweep(root)
        tmp = tempfile.mkdtemp(prefix=f".tmp-{os.getpid()}-", dir=root)
        try:
            with zipfile.ZipFile(archive) as z:
                z.extractall(tmp)
            if copy_key(archive) != key:
                raise OSError(f"{archive} changed while it was copied")
            with open(os.path.join(tmp, MARKER), "w") as f:
                f.write(key)
            try:
                os.rename(tmp, final)
            except OSError:  # another daemon published it first
                if not os.path.isdir(final):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    try:
        with open(os.path.join(final, MARKER)) as f:
            done = f.read() == key
    except OSError:
        done = False
    if not done:
        raise OSError(f"{final} is not a complete copy of {archive}")
    return final


class _CopyLoader(machinery.SourceFileLoader):
    """Source loader of the copy; while ``writing`` (the daemon's own
    imports, before any fork) it writes each module's bytecode next to its
    source, whatever ``sys.dont_write_bytecode`` says, and nowhere else."""

    writing = False

    def get_code(self, fullname):
        if not _CopyLoader.writing:
            return super().get_code(fullname)
        saved, sys.dont_write_bytecode = sys.dont_write_bytecode, False
        try:
            return super().get_code(fullname)
        finally:
            sys.dont_write_bytecode = saved


def _copy_hook(root: str):
    loaders = [
        (machinery.ExtensionFileLoader, machinery.EXTENSION_SUFFIXES),
        (_CopyLoader, machinery.SOURCE_SUFFIXES),
        (machinery.SourcelessFileLoader, machinery.BYTECODE_SUFFIXES),
    ]

    def hook(path):
        if path != root and not path.startswith(root + os.sep):
            raise ImportError("not in the compiled copy")
        return machinery.FileFinder(path, *loaders)

    return hook


def import_daemon():
    """``pyspark.daemon``, imported from the compiled copy of the
    ``pyspark.zip`` on ``sys.path`` when there is one and it can be built;
    from ``sys.path`` as it was otherwise."""
    saved = list(sys.path)
    zips = [i for i, p in enumerate(sys.path) if os.path.basename(p) == "pyspark.zip"]
    if zips:
        try:
            root = compiled_copy(sys.path[zips[0]])
            sys.path_importer_cache.pop(sys.path[zips[0]], None)
            sys.path[zips[0]] = root
            sys.path_hooks.insert(0, _copy_hook(root))
            _CopyLoader.writing = True
            import pyspark.daemon

            return pyspark.daemon
        except Exception as e:  # the daemon must start: fall back to the zip
            print(f"rle_array_spark: pyspark loads from {saved[zips[0]]}: {e!r}", file=sys.stderr)
            sys.path[:] = saved
            for name in [m for m in sys.modules if m.split(".")[0] == "pyspark"]:
                del sys.modules[name]
        finally:
            _CopyLoader.writing = False
    import pyspark.daemon

    return pyspark.daemon


def _same_interpreter(exe: str) -> bool:
    """Whether running ``exe`` starts this interpreter (a launcher such as
    a pyenv shim is asked)."""
    found = shutil.which(exe)
    if found is None:
        return False
    if os.path.abspath(found) == sys.executable:
        return True
    try:
        out = subprocess.run([found, "-S", "-c", "import sys; print(sys.executable); print(sys.prefix)"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.SubprocessError):
        return False
    return out.returncode == 0 and out.stdout.splitlines() == [sys.executable, sys.prefix]


def worker_can_import() -> bool:
    """Whether the Python worker of a local session can import this module
    at daemon start: the worker interpreter (``PYSPARK_PYTHON``, pyspark's
    default ``python3``) is this one, and the first directory of its
    start-up path that holds the package (cwd, ``PYTHONPATH``, then
    site-packages) holds this package. Anywhere else — a
    ``--py-files``-only deployment, another interpreter — the daemon could
    not start, and every Python task would fail."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    if site.ENABLE_USER_SITE:
        dirs.append(site.getusersitepackages())
    for d in dirs:
        found = os.path.join(os.path.abspath(d), "rle_array_spark")
        if os.path.isdir(found):
            return (os.path.realpath(found) == os.path.realpath(pkg)
                    and _same_interpreter(os.environ.get("PYSPARK_PYTHON") or "python3"))
    return False


def main() -> None:
    daemon = import_daemon()
    if sys.version_info < (3, 13):
        _zipcache.install()
    daemon.manager()


if __name__ == "__main__":
    main()
