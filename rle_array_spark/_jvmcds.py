"""Spark's driver JVM, started from a class-data-sharing archive.

``engine.session()`` has the JVM map Spark's classes pre-parsed from a
dynamic AppCDS archive, ``spark-<key>.jsa`` in the private cache
(``_daemon.cache_dir()``), built once per JDK and Spark install. The JVM
refuses CDS while a directory on its class path is not empty, and Spark puts
its conf dir first there: the archive is used only when that dir holds
nothing but ``*.template`` files (Spark reads none), and ``SPARK_CONF_DIR``
then names an empty private dir around the gateway launch. A real conf file,
a Hadoop/YARN conf dir, ``SPARK_DIST_CLASSPATH``, a JVM started by
spark-submit or a running SparkContext leave the session as it was. Under
``-Xshare:auto`` the JVM checks every jar itself and loads classes the
normal way on any mismatch; the key only prevents rebuilds.

A miss builds the archive in a child, ``python -m rle_array_spark._jvmcds
<path>``: a ``local[1]`` session that runs a tiny job on each path the
engine uses and dumps at exit (``-XX:ArchiveClassesAtExit``), its output
going to ``spark-<key>.log``. One builder holds ``spark-<key>.lock``; the
archive is published by one rename, and a failed build leaves
``spark-<key>.failed`` so that it is not retried.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from rle_array_spark import _daemon

# Set by main() only, in the build child: where its JVM writes the archive.
DUMP: str | None = None
MAGIC = b"\xa8\xab\x0b\xf0"  # first bytes of a dynamic CDS archive
BLOCKING_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT")


def java() -> str | None:
    """The ``java`` that Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def archive_key(home: str, exe: str) -> str:
    st = os.stat(exe)
    jdk = os.environ.get("JAVA_HOME") or os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    release = b""
    with contextlib.suppress(OSError), open(os.path.join(jdk, "release"), "rb") as f:
        release = f.read()
    jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(os.path.join(home, "jars")))
    raw = repr([os.path.realpath(exe), st.st_size, st.st_mtime_ns, release, os.path.realpath(home), jars])
    return hashlib.sha256(raw.encode()).hexdigest()[:24]


def blocker() -> str | None:
    """Why this session's JVM cannot use the archive, or None."""
    from pyspark import SparkContext

    if os.name != "posix":
        return "not a POSIX host"
    for var in BLOCKING_ENV:
        if var in os.environ:
            return f"{var} is set"
    if SparkContext._active_spark_context is not None:
        return "a SparkContext is running"
    if java() is None:
        return "no java"
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home(), "conf")
    real = sorted(n for n in (os.listdir(conf) if os.path.isdir(conf) else ()) if not n.endswith(".template"))
    return f"{conf} holds {real[0]}" if real else None


def archive(root: str, key: str, build) -> str | None:
    """The archive of ``key`` under ``root``, built on a miss by
    ``build(tmp, log) -> bool``; None while another process builds it, or
    once a build of it failed."""
    final = os.path.join(root, f"spark-{key}.jsa")
    stem = final[: -len(".jsa")]
    if os.path.isfile(final) or os.path.exists(stem + ".failed") or not _daemon.claim(stem + ".lock"):
        return final if os.path.isfile(final) else None
    tmp = os.path.join(root, f".tmp-{os.getpid()}-spark-{key}.jsa")
    try:
        if not os.path.isfile(final):
            _daemon.sweep(root)
            if not build(tmp, stem + ".log"):
                open(stem + ".failed", "w").close()
                return None
            os.rename(tmp, final)
        return final
    finally:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        os.unlink(stem + ".lock")


def build(tmp: str, log: str, timeout: float = 600) -> bool:
    """Run the build child; True when it and its JVM exited 0 and left an
    archive at ``tmp``. A timeout or an interrupt kills the child's group."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [pkg_root, os.environ.get("PYTHONPATH")]))}
    code = None
    with open(log, "w") as out, tempfile.TemporaryDirectory() as work:
        proc = subprocess.Popen([sys.executable, "-m", __name__, tmp], cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with contextlib.suppress(OSError), open(tmp, "rb") as f:
        return code == 0 and f.read(len(MAGIC)) == MAGIC
    return False


@contextlib.contextmanager
def driver_options():
    """The driver JVM options that map the archive (built on a miss), or
    None. While they are used, ``SPARK_CONF_DIR`` names the empty conf dir;
    the environment is restored on exit."""
    opts = empty = None
    root = _daemon.cache_dir()
    # Spark splits the options at spaces and quotes
    with contextlib.suppress(OSError):
        if blocker() is None and not any(c.isspace() or c in "'\"\\" for c in root):
            empty = _daemon.private_dir(os.path.join(_daemon.private_dir(root), "spark-conf"))
            if DUMP:
                opts = f"-XX:ArchiveClassesAtExit={DUMP}"
            elif not os.listdir(empty):
                path = archive(root, archive_key(spark_home(), java()), build)
                opts = path and f"-XX:SharedArchiveFile={path} -Xshare:auto"
    if not opts:
        yield None
        return
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty
    try:
        yield opts
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _exercise(spark, work: str) -> None:
    """A tiny job on each JVM path of the engine: both writers (a first
    write and a metadata-only rerun: aggregates, a shuffle, parquet, an
    Arrow encode), their readers and an Arrow decode."""
    from rle_array_spark import engine, tableframe, tableio

    df = spark.range(12).selectExpr(
        "concat('d', id) doc_id", "'s' source", "cast(id % 3 + 2 as int) n_tok",
        "array_repeat(cast(id % 3 as int), cast(id % 3 + 2 as int)) tokens",
        "array(cast(id as double), 0.5) xs", "array(cast(id as string), 'a') ss")
    tok, tab = os.path.join(work, "tok"), os.path.join(work, "tab")
    for _ in range(2):
        tableio.encode_to_dir(df, tok, num_partitions=2, chunk_tokens="auto")
        tableio.encode_table_to_dir(df, ["tokens", "xs", "ss"], tab, num_partitions=2)
    engine.decode_df(tableio.read_blocks(spark, tok), reassemble_chunks=True).count()
    types = {"tokens": "int", "xs": "double", "ss": "string"}
    tableframe.decode_table_df(tableio.read_table_blocks(spark, tab), types).count()


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc") if os.path.isdir("/proc") else ()):
        with contextlib.suppress(OSError, IndexError, ValueError), open(f"/proc/{d}/stat") as f:
            kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def main(out: str) -> int:
    """Build child: run :func:`_exercise`, then stop the session and wait
    for its JVM (which writes the archive as it exits) and workers."""
    global DUMP
    from pyspark import SparkContext

    from rle_array_spark import engine

    DUMP = out
    spark = engine.session(app="rle-array-spark-cds", cores=1, shuffle_partitions=2)
    gateway = SparkContext._gateway
    try:
        with tempfile.TemporaryDirectory() as work:
            _exercise(spark, work)
    finally:
        workers = _descendants(gateway.proc.pid)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        code = gateway.proc.wait()
        deadline = time.monotonic() + 60
        while any(map(_daemon.alive, workers)) and time.monotonic() < deadline:
            time.sleep(0.05)
    return code


if __name__ == "__main__":  # the imported module's main(): engine.session() reads its DUMP
    from rle_array_spark import _jvmcds

    sys.exit(_jvmcds.main(sys.argv[1]))
