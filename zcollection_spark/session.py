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
- Python workers served by :mod:`._pydaemon`.  Before every Python task
  (zarr reads and writes, Arrow/pandas UDFs) PySpark calls
  ``importlib.invalidate_caches()``, which on CPython 3.12 and older
  re-parses every imported zip archive's directory (``pyspark.zip``
  about 16 times over): 150-200 ms of worker CPU per task.  The daemon
  re-reads an archive only when it changed.  CPython 3.13 and newer are
  left as they are: their ``invalidate_caches`` only drops the cache.
  A session this module did not build (e.g. one a caller passes to
  :func:`configure`) keeps its own daemon: the setting is static,
- zstd parquet compression (parity with the reference's codec profiles,
  ``/root/reference/zcollection/codecs/defaults.py:133-156``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configuration applied to every session this library creates.  Callers with
#: an existing session keep their own settings except the *runtime* (non
#: plan-breaking) ones we set via ``spark.conf.set``.
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
    # workers skip the per-task re-read of unchanged zip archives on
    # CPython <= 3.12 (see the module docstring); static, so it takes
    # effect only in sessions get_spark builds
    "spark.python.daemon.module": "zcollection_spark._pydaemon",
}


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
    for key, value in SESSION_CONF.items():
        builder = builder.config(key, value)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
    builder = builder.config("spark.driver.memory",
                             os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    spark = builder.getOrCreate()
    configure(spark)
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable configs to an existing session."""
    for key, value in SESSION_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # immutable (plan-static) config on a live session
            pass
    return spark
