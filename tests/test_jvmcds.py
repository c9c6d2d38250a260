"""The driver JVM's class-data-sharing archive: its key, the guard that
decides whether a session uses it (and leaves the environment as it was
when it does not), its one-builder publication and failure marker, and the
removal of dead builders' temp entries. All but the last two tests run
without Spark; the last one starts its own session in a subprocess."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import pytest
from pyspark import SparkContext

from rle_array_spark import _daemon, _jvmcds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONF_DIR_AT_START = os.environ.get("SPARK_CONF_DIR")  # read before any session starts


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark install (templates-only conf dir, two jars) and JDK, a
    private cache under a temp ``XDG_CACHE_HOME``, no running SparkContext:
    the guard says yes. Returns the install's paths."""
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (jdk / "bin").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# unused\n")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    (jdk / "bin" / "java").write_text("#!/bin/sh\n")
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in (*_jvmcds.BLOCKING_ENV, "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    return {"home": str(home), "jdk": str(jdk), "root": _daemon.cache_dir()}


def _fake_build(calls, ok=True, wait=None):
    def build(tmp, log):
        calls.append(tmp)
        if wait is not None:
            wait.wait(30)
        if ok:
            with open(tmp, "wb") as f:
                f.write(_jvmcds.MAGIC)
        return ok

    return build


def test_key_follows_jars_and_java(install):
    home, java = install["home"], _jvmcds.java()
    key = _jvmcds.archive_key(home, java)
    assert _jvmcds.archive_key(home, java) == key
    jar = os.path.join(home, "jars", "a.jar")
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    moved = _jvmcds.archive_key(home, java)
    with open(jar, "ab") as f:  # one byte longer, same mtime
        f.write(b"!")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    grown = _jvmcds.archive_key(home, java)
    other = os.path.join(install["jdk"], "bin", "java2")
    os.link(java, other)  # same file, same size and mtime, another realpath
    assert len({key, moved, grown, _jvmcds.archive_key(home, other)}) == 4


@pytest.mark.parametrize("case", ["conf file", "HADOOP_CONF_DIR", "SPARK_DIST_CLASSPATH",
                                  "PYSPARK_GATEWAY_PORT", "context"])
def test_guard_says_no_and_leaves_the_environment(install, monkeypatch, case):
    assert _jvmcds.blocker() is None
    if case == "conf file":
        with open(os.path.join(install["home"], "conf", "spark-defaults.conf"), "w") as f:
            f.write("spark.ui.enabled false\n")
    elif case == "context":
        monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    else:
        monkeypatch.setenv(case, "x")
    monkeypatch.setattr(_jvmcds, "build", lambda tmp, log: pytest.fail("built"))
    before = dict(os.environ)
    with _jvmcds.driver_options() as opts:
        assert opts is None and dict(os.environ) == before
    assert dict(os.environ) == before
    assert _jvmcds.blocker() is not None


@pytest.mark.parametrize("conf_dir", [None, "templates"])
def test_options_map_the_archive_and_restore_the_conf_dir(install, monkeypatch, conf_dir):
    if conf_dir:
        monkeypatch.setenv("SPARK_CONF_DIR", os.path.join(install["home"], "conf"))
    calls = []
    monkeypatch.setattr(_jvmcds, "build", _fake_build(calls))
    before = dict(os.environ)
    with _jvmcds.driver_options() as opts:
        key = _jvmcds.archive_key(install["home"], _jvmcds.java())
        path = os.path.join(install["root"], f"spark-{key}.jsa")
        assert opts == f"-XX:SharedArchiveFile={path} -Xshare:auto"
        assert os.environ["SPARK_CONF_DIR"] == os.path.join(install["root"], "spark-conf")
        assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
    assert dict(os.environ) == before
    with _jvmcds.driver_options() as again:
        assert again == opts
    assert len(calls) == 1 and sorted(os.listdir(install["root"])) == sorted([f"spark-{key}.jsa", "spark-conf"])


def test_temp_and_failed_entries_are_never_used(install):
    root = _daemon.private_dir(install["root"])
    tmp = os.path.join(root, ".tmp-1-spark-k.jsa")
    with open(tmp, "wb") as f:  # a live builder's unfinished archive (pid 1 runs)
        f.write(_jvmcds.MAGIC)
    calls = []
    assert _jvmcds.archive(root, "k", _fake_build(calls, ok=False)) is None
    assert len(calls) == 1 and os.path.exists(os.path.join(root, "spark-k.failed"))
    assert _jvmcds.archive(root, "k", _fake_build(calls)) is None  # not retried
    assert len(calls) == 1 and not os.path.exists(os.path.join(root, "spark-k.jsa"))


def test_concurrent_builders_build_once(install):
    root = _daemon.private_dir(install["root"])
    calls, release, got = [], threading.Event(), []
    first = threading.Thread(target=lambda: got.append(_jvmcds.archive(root, "k", _fake_build(calls, wait=release))))
    first.start()
    deadline = time.monotonic() + 30
    while not calls and first.is_alive() and time.monotonic() < deadline:
        first.join(0.01)
    assert calls and _jvmcds.archive(root, "k", _fake_build(calls)) is None  # the loser runs without
    release.set()
    first.join(30)
    assert not first.is_alive()
    final = os.path.join(root, "spark-k.jsa")
    assert got == [final] and _jvmcds.archive(root, "k", _fake_build(calls)) == final
    assert len(calls) == 1 and os.listdir(root) == ["spark-k.jsa"]


def test_dead_builders_leave_nothing_behind(install):
    """A lock of a dead builder is taken over, and the next build removes
    the ``.tmp-<pid>-*`` entries of dead builders only."""
    root = _daemon.private_dir(install["root"])
    dead = _dead_pid()
    with open(os.path.join(root, "spark-k.lock"), "w") as f:
        f.write(str(dead))
    os.makedirs(os.path.join(root, f".tmp-{dead}-abc", "pyspark"))  # a daemon copy
    open(os.path.join(root, f".tmp-{dead}-spark-old.jsa"), "w").close()
    live = os.path.join(root, f".tmp-{os.getpid()}-xyz")
    os.makedirs(live)
    os.makedirs(os.path.join(root, ".tmp-stray"))  # no pid: not ours to judge
    calls = []
    assert _jvmcds.archive(root, "k", _fake_build(calls)) == os.path.join(root, "spark-k.jsa")
    left = sorted(n for n in os.listdir(root) if n.startswith(".tmp-"))
    assert left == sorted([".tmp-stray", os.path.basename(live)])


def test_shared_session_maps_the_archive(spark):
    """On the shared session: the JVM maps the archive whenever the guard
    said yes, and ``SPARK_CONF_DIR`` is back to what it was."""
    assert os.environ.get("SPARK_CONF_DIR") == CONF_DIR_AT_START
    opts = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions")
    if opts is None:
        pytest.skip("the guard said no, or the archive could not be built")
    path = opts.split()[0].split("=", 1)[1]
    with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as f:
        assert path in {line.split()[-1] for line in f}


def test_session_with_a_conf_file_starts_as_before(tmp_path):
    """A conf dir with a real ``spark-defaults.conf``: no CDS option, and
    that dir stays first on the JVM's class path."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    script = (
        "from pyspark import SparkContext; from rle_array_spark import engine; "
        "s = engine.session(cores=1, shuffle_partitions=1); "
        "print(s.sparkContext.getConf().get('spark.driver.defaultJavaOptions')); "
        "print(open(f'/proc/{SparkContext._gateway.proc.pid}/cmdline').read().replace(chr(0), ' ')); "
        "s.stop()"
    )
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_CONF_DIR": str(conf)}
    out = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    opts, cmd = out.stdout.splitlines()[-2:]
    assert opts == "None" and "SharedArchiveFile" not in cmd
    assert cmd.split(" -cp ", 1)[1].startswith(f"{conf}/:")
