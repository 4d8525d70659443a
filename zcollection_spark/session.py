"""SparkSession factory with scale-appropriate defaults.

The reference engine is a single-process asyncio library; its concurrency
knobs (``partition.concurrency``, ``/root/reference/zcollection/config.py:18-55``)
map onto Spark task scheduling.  This module centralises the session
configuration so tests, the driver entry point, and the bench harness all run
with the same plan-affecting settings:

- AQE on (runtime re-planning, skew-join handling at scale),
- dynamic partition overwrite (the engine's ``replace``/``update`` write mode
  only rewrites touched partitions — the 100 TB-safe behavior),
- Arrow for every pandas interchange (``applyInPandas`` UDF surfaces),
- zstd parquet compression (parity with the reference's codec profiles,
  ``zcollection/codecs/defaults.py:133-156``).

Those are runtime settings (:data:`SESSION_CONF`): :func:`configure` applies
them to any live session.  Two more concern the Python workers and are
static, read once when the SparkContext starts, so only sessions
:func:`get_spark` builds get them (:data:`STATIC_CONF` plus the socket
settings below):

- Python workers served by :mod:`._pydaemon`.  Before every Python task
  (zarr reads and writes, Arrow/pandas UDFs) PySpark calls
  ``importlib.invalidate_caches()``, which on CPython 3.12 and older
  re-parses every imported zip archive's directory (``pyspark.zip``
  about 16 times over): 150-200 ms of worker CPU per task.  The daemon
  re-reads an archive only when it changed.  CPython 3.13 and newer are
  left as they are: their ``invalidate_caches`` only drops the cache.
- JVM <-> Python traffic over Unix domain sockets
  (``spark.python.unix.domain.socket.enabled``): the worker daemon, the
  worker tasks, the driver's collect/serve sockets and the accumulator
  server.  Over Spark's default TCP loopback sockets every Python task
  waited a fixed ~40 ms in ``pyarrow.ipc.open_stream`` for the JVM's
  first Arrow message: Linux's minimum delayed-ACK timeout, met through
  the Nagle/delayed-ACK interaction (RFC 896, RFC 1122).  The wait costs
  no CPU and Unix sockets do not have it.  The sockets live in a private
  directory this module makes once per process and removes at exit:

  - *length*: Spark rejects a directory path longer than 61 bytes
    (``INVALID_CONF_VALUE.REQUIREMENT``, at the session's first Python
    job), which leaves room in a 107-byte ``sun_path`` for the
    ``/.{uuid4}.sock`` it appends.  Spark's default, ``java.io.tmpdir``,
    can be longer (the benchmark puts it under the checkout), and then
    the accumulator server's bind fails and no session starts;
  - *privacy*: in this mode Spark drops the TCP auth secret, so file
    permissions are the only guard: the directory is a ``mkdtemp``
    (mode 0700) under ``tempfile.gettempdir()``, or under ``/tmp`` when
    that path is too long;
  - *fallback*: when neither fits, or the platform has no ``AF_UNIX``,
    neither key is set and the session keeps Spark's TCP transport
    rather than failing to start.  The choice is logged at DEBUG.

A session this module did not build (e.g. one a caller passes to
:func:`configure`) keeps its own daemon and transport.  Setting
:data:`STATIC_CONF` and the two socket keys on the builder opts it in.
"""

from __future__ import annotations

import atexit
import functools
import logging
import os
import shutil
import socket
import tempfile
from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

#: Runtime configuration applied to every session this library creates, and
#: by :func:`configure` to a caller's live session.
SESSION_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Partition-directory values like year=2024 come back as ints, matching
    # the reference's integer-only partition keys
    # (/root/reference/zcollection/partitioning/sequence.py:114-122).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # read parquet naive timestamps as TimestampType (UTC), not NTZ —
    # one timestamp type throughout the engine and its oracle comparisons
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # the raw spark.read.format("zarr3") reader prunes partitions from
    # pushed key filters (ZarrCollection reads resolve partitions on the
    # driver and do not need it)
    "spark.sql.python.filterPushdown.enabled": "true",
}

#: Static configuration: read once when the SparkContext starts, so it
#: takes effect only in sessions :func:`get_spark` builds.
STATIC_CONF: dict[str, str] = {
    # workers skip the per-task re-read of unchanged zip archives on
    # CPython <= 3.12 (see the module docstring)
    "spark.python.daemon.module": "zcollection_spark._pydaemon",
}

#: The longest socket directory path Spark accepts: its check on
#: ``spark.python.unix.domain.socket.dir`` ("The directory path should be
#: lower than 61", ``org.apache.spark.internal.config.Python``) fails the
#: first Python job of a session given a longer one.
_SOCKET_DIR_MAX = 61
_SOCKET_DIR_PREFIX = "zcs-uds-"
#: ``mkdtemp`` appends 8 random characters to the prefix.
_SOCKET_DIR_NAME_LEN = len(_SOCKET_DIR_PREFIX) + 8


def _socket_dir_parent(*candidates: str) -> str | None:
    """The first of ``candidates`` under which a socket directory leaves
    room for Spark's socket names in a ``sun_path``, or None."""
    for parent in candidates:
        dir_len = len(os.fsencode(parent)) + 1 + _SOCKET_DIR_NAME_LEN
        if dir_len <= _SOCKET_DIR_MAX:
            return parent
    return None


def _make_socket_conf(*parents: str) -> dict[str, str]:
    """The settings that put a session's JVM <-> Python traffic on Unix
    domain sockets in a new private directory under the first of
    ``parents`` that fits (see the module docstring), removed at exit.
    Empty, so the session keeps TCP, when none fits, the platform has no
    ``AF_UNIX`` or the directory cannot be made."""
    parent = _socket_dir_parent(*parents)
    if parent is None or not hasattr(socket, "AF_UNIX"):
        log.debug("Python worker traffic stays on TCP: no AF_UNIX, or no "
                  "socket directory fits under %s", parents)
        return {}
    try:
        sock_dir = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=parent)
    except OSError as exc:
        log.debug("Python worker traffic stays on TCP: %s", exc)
        return {}
    atexit.register(shutil.rmtree, sock_dir, ignore_errors=True)
    log.debug("Python worker traffic on Unix sockets in %s", sock_dir)
    return {"spark.python.unix.domain.socket.enabled": "true",
            "spark.python.unix.domain.socket.dir": sock_dir}


@functools.cache
def unix_socket_conf() -> Mapping[str, str]:
    """The Unix domain socket settings of this process's sessions: one
    directory under ``tempfile.gettempdir()`` or ``/tmp``, made on the
    first call, or empty (TCP) when none can be made."""
    return MappingProxyType(_make_socket_conf(tempfile.gettempdir(), "/tmp"))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "zcollection-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster, leave AQE to coalesce post-shuffle partitions instead of
    hand-tuning.
    """
    cpus = default_parallelism()
    # executor Python workers must import this package regardless of the
    # caller's cwd — export the package parent on PYTHONPATH before the
    # worker daemon starts (cluster deployments ship a wheel instead)
    from pathlib import Path
    pkg_parent = str(Path(__file__).resolve().parent.parent)
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_parent + os.pathsep + current
                                    if current else pkg_parent)
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for key, value in {**SESSION_CONF, **STATIC_CONF,
                       **unix_socket_conf()}.items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    spark = builder.getOrCreate()
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime configs (:data:`SESSION_CONF`) to an
    existing session; its static settings stay as they were built."""
    for key, value in SESSION_CONF.items():
        spark.conf.set(key, value)
    return spark
