"""The session factory (``zcollection_spark/session.py``): the settings
``configure`` round-trips, and the Unix domain socket transport of the
sessions ``get_spark`` builds (directory choice, privacy, fallback to
TCP, removal at exit, and the Python surfaces that ride on it)."""

import os
import socket
import stat
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

import zcollection_spark as zc
from zcollection_spark import session
from zcollection_spark.session import (SESSION_CONF, STATIC_CONF, configure,
                                       unix_socket_conf)
from zcollection_spark.zarr3.collection import create_zarr_collection

#: sun_path (107 bytes) less "/" and Spark's ".{uuid4}.sock" (42 bytes)
SOCKET_DIR_MAX = 64
LONG_DIR = "/" + "x" * 98


def test_configure_sets_only_runtime_keys(spark):
    """``configure`` sets only keys a live session can change, and the
    builder gave the test session every static key."""
    seen = []
    configure(SimpleNamespace(conf=SimpleNamespace(
        set=lambda key, value: seen.append(key))))
    assert seen == list(SESSION_CONF)
    assert all(spark.conf.isModifiable(key) for key in seen)
    built = spark.sparkContext.getConf()
    static = {**STATIC_CONF, **unix_socket_conf()}
    assert "spark.python.unix.domain.socket.dir" in static
    for key, value in static.items():
        assert not spark.conf.isModifiable(key)
        assert built.get(key) == value


def test_worker_tasks_use_unix_sockets(spark):
    """Inside a ``mapInArrow`` task of the test session, the worker was
    told to talk to the JVM over a Unix domain socket."""
    def probe(batches):
        import os

        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "uds string").collect())
    assert [r["uds"].lower() for r in rows] == ["true"]


def test_socket_dir_is_private_and_short(spark):
    sock_dir = spark.sparkContext.getConf().get(
        "spark.python.unix.domain.socket.dir")
    st = os.stat(sock_dir)
    assert stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(os.fsencode(sock_dir)) <= SOCKET_DIR_MAX
    assert any(name.endswith(".sock") for name in os.listdir(sock_dir))


def test_socket_dir_parent_falls_back_to_tmp():
    assert session._socket_dir_parent("/tmp", LONG_DIR) == "/tmp"
    assert session._socket_dir_parent(LONG_DIR, "/tmp") == "/tmp"
    # parent + "/" + "zcs-uds-" + 8 random characters: 47 bytes fit
    fits, too_long = "/" + "p" * 46, "/" + "p" * 47
    assert session._socket_dir_parent(too_long, fits) == fits
    assert session._socket_dir_parent(too_long) is None


def test_no_fitting_dir_keeps_tcp(tmp_path, monkeypatch):
    assert session._make_socket_conf(LONG_DIR, LONG_DIR + "y") == {}
    monkeypatch.delattr(socket, "AF_UNIX")
    assert session._make_socket_conf(str(tmp_path)) == {}
    assert list(tmp_path.iterdir()) == []


def test_raw_zarr3_read_and_accumulator(spark, tmp_path, date_schema,
                                        date_pdf):
    """The Python data source (planning and read) and the accumulator
    server both run over the session's sockets."""
    coll = create_zarr_collection(
        spark, str(tmp_path / "z"), schema=date_schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    bound = date_schema.with_partition_axis("time")
    coll.insert(spark.createDataFrame(date_pdf,
                                      schema=bound.to_struct_type()))
    df = (spark.read.format("zarr3").option("path", coll.path).load()
          .where("month >= 2"))
    assert sorted(r["v"] for r in df.collect()) == [2.0, 3.0, 4.0]

    acc = spark.sparkContext.accumulator(0)
    spark.sparkContext.parallelize(range(10), 2).foreach(
        lambda x: acc.add(x))
    assert acc.value == 45


def test_overlong_tempdir_falls_back_and_dir_removed_at_exit(tmp_path):
    """A session started with a temp dir too long for a socket path runs
    on a directory under /tmp, and that directory is gone once the
    process exits."""
    long_tmp = tmp_path / ("t" * max(1, 99 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    probe = ("import zcollection_spark as zc\n"
             "from zcollection_spark.session import unix_socket_conf\n"
             "spark = zc.get_spark('uds-fallback')\n"
             "assert spark.range(3).mapInArrow(lambda it: it, "
             "'id long').count() == 3\n"
             "print(unix_socket_conf()"
             "['spark.python.unix.domain.socket.dir'])\n")
    root = Path(__file__).resolve().parent.parent
    env = {**os.environ, "TMPDIR": str(long_tmp), "SPARK_GRAFT_CPUS": "1",
           "SPARK_DRIVER_MEMORY": "512m", "PYTHONPATH": str(root)}
    done = subprocess.run([sys.executable, "-c", probe], cwd=root, env=env,
                          capture_output=True, text=True, timeout=300,
                          stdin=subprocess.DEVNULL)
    assert done.returncode == 0, done.stderr[-2000:]
    sock_dir = done.stdout.strip().splitlines()[-1]
    assert os.path.dirname(sock_dir) == "/tmp"
    assert not os.path.exists(sock_dir)
