from __future__ import annotations

import contextlib
import glob
import os
import threading
import time

import pytest

os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rle_array_spark.engine import session

    s = session(app="rle-array-spark-tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sequences(spark, tmp_path_factory):
    """Small deterministic synthetic corpus registered as a parquet table."""
    import pyarrow.parquet as pq

    from rle_array_spark.datagen import generate_table

    path = tmp_path_factory.mktemp("data") / "sequences.parquet"
    pq.write_table(generate_table(n_blocks=1, rows_per_source=15), str(path))
    return spark.read.parquet(str(path))


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


@pytest.fixture
def py4j_calls(monkeypatch):
    """A context manager counting the py4j round trips (``send_command``
    calls) the main thread makes inside it: ``with py4j_calls() as n:``,
    then ``n[0]``. py4j's finalizer thread, which sends the JVM-side
    garbage collection of dropped objects, is not counted."""
    from py4j.clientserver import ClientServerConnection

    active = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is threading.main_thread():
            for n in active:
                n[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    @contextlib.contextmanager
    def count():
        n = [0]
        active.append(n)
        try:
            yield n
        finally:
            active.remove(n)

    return count


@pytest.fixture
def settled_count():
    """A function: the number of files matching a glob ``pattern`` once the
    matches (and their ``.tmp-<pid>`` siblings) have not changed for
    ``quiet`` seconds. A Spark job that fails returns its error to the
    driver while its other tasks still run; in local mode they go on, so a
    writer's other partitions commit their files after the writer raised
    (measured: 15-40 ms later)."""

    def count(pattern: str, quiet: float = 1.0, timeout: float = 30.0) -> int:
        deadline = time.monotonic() + timeout
        last, since = None, time.monotonic()
        while time.monotonic() < deadline:
            now = sorted(glob.glob(pattern + "*"))
            if now != last:
                last, since = now, time.monotonic()
            elif time.monotonic() - since >= quiet:
                break
            time.sleep(0.05)
        return len(glob.glob(pattern))

    return count
