"""Non-local stores: a real non-file scheme + object-store semantics.

Two gaps the reference covers with moto-S3 contract tests
(``/root/reference/zcollection/tests/test_backends.py:49-430``):

1. A genuinely non-``file`` scheme end-to-end: ``viewfs://`` (Hadoop's
   client-side mount table, zero extra deps) routed through
   :class:`HadoopFS` — create/insert/query/crash/repair, with Spark
   bulk parquet I/O going through the same scheme.
2. Stores WITHOUT atomic rename (S3-class): the staging publish
   switches to the manifest-driven file-granular path (staging.py) —
   verified here with an FS whose directory renames are forbidden
   outright, plus crash injection at every file-move state.
"""

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.collection import staging
from zcollection_spark.fs import LocalFS


@pytest.fixture()
def viewfs_root(spark, tmp_path):
    conf = spark._jsc.hadoopConfiguration()
    conf.set(f"fs.viewfs.mounttable.zct.link./store", f"file://{tmp_path}")
    return "viewfs://zct/store"


def _seq_df(spark, schema, nums, value):
    bound = schema.with_partition_axis("num")
    pdf = pd.DataFrame({
        "num": np.array(nums, dtype=np.int64),
        "value": [[value] * 3] * len(nums),
        "static": [[10.0, 20.0, 30.0]] * len(nums)})
    return spark.createDataFrame(pdf, schema=bound.to_struct_type())


def test_viewfs_collection_roundtrip_with_crash_repair(spark, seq_schema,
                                                       viewfs_root,
                                                       tmp_path):
    """create → insert → query → crashed insert → repair, all on a
    non-file scheme through HadoopFS (metadata) + Spark (bulk I/O)."""
    from zcollection_spark.fs import HadoopFS
    from tests.test_staging_recovery import CrashAfterRenames

    path = f"{viewfs_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, HadoopFS)
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    assert coll.query().count() == 4
    assert coll.query(filters="num >= 1").count() == 2

    # reopen via the scheme: config + catalog read through HadoopFS
    reopened = zc.open_collection(spark, path, mode="rw")
    assert reopened.query().count() == 4

    # kill a replacement insert mid-publish, then repair
    real_fs = coll._fs
    coll._fs = CrashAfterRenames(real_fs, 1)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 2.0))
    finally:
        coll._fs = real_fs
    assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
    rows = coll.query().collect()
    assert len(rows) == 4
    assert all(r["value"] == [2.0, 2.0, 2.0] for r in rows)


def test_viewfs_stats_come_from_footers_read_through_hadoop(spark,
                                                           viewfs_root):
    """On a Hadoop-scheme store the staged footers are read through
    ``HadoopFS.read_tail`` (one positioned stream per file): after an
    insert and an upsert, with multi-file partitions, the catalog's
    zone maps and blooms equal the Spark aggregations over the
    read-back rows."""
    from zcollection_spark.collection.stats import (collect_bloom_stats,
                                                    collect_zone_stats)
    from zcollection_spark.fs import HadoopFS
    schema = (zc.SchemaBuilder()
              .add_dimension("i", chunks=2)
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("name", "str", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    ddl = "i long, uid long, value double, name string, num long"
    coll = zc.create_collection(
        spark, f"{viewfs_root}/stats", schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)),
        stats_columns=["value", "name", "num"],
        bloom_columns=["uid", "name"], bloom_bits=256)
    assert isinstance(coll._fs, HadoopFS)
    coll.insert(spark.createDataFrame(
        [(i, 100 + i, float(i), f"n{i}", i % 3) for i in range(9)], ddl))
    coll.insert(spark.createDataFrame(
        [(i, 500 + i, None if i == 7 else -float(i), f"u{i}", i % 3)
         for i in range(6, 12)], ddl), merge="upsert")
    back, rels = coll.query(), coll.partitions()
    want = collect_zone_stats(back, coll.partitioning, coll.stats_columns,
                              rels)
    for rel, entry in collect_bloom_stats(
            back, coll.partitioning, coll.bloom_columns, rels,
            m_bits=256).items():
        want[rel].update(entry)
    assert coll._catalog.read_stats() == want
    assert want["num=1"]["value"] == [-10.0, 4.0, 1]
    assert coll.query(where="uid == 511") is not None
    assert coll.query(where="uid == 106") is None  # upserted away


def test_hadoop_walk_files_is_one_listing_per_directory(spark, viewfs_root,
                                                      tmp_path):
    """``HadoopFS.walk_files`` (the ``staging._walk_files`` hook) equals
    the recursive ``list_files``/``list_dirs`` walk, hidden names
    skipped at every level, and ``CountingFS`` counts it as one list."""
    from zcollection_spark.fs import CountingFS, HadoopFS

    class Recursive:  # HadoopFS without the hook
        def __init__(self, inner):
            self.list_files = inner.list_files
            self.list_dirs = inner.list_dirs

    # written through the scheme: the JVM caches a viewfs mount table
    # per session, so another test's tmp_path may sit behind the root
    hfs = HadoopFS(spark)
    root = f"{viewfs_root}/walk-{tmp_path.name}"
    for rel in ("year=2024/month=1/a.parquet", "year=2024/month=1/b.parquet",
                "year=2024/month=2/c.parquet", "year=2025/month=1/d.parquet",
                "top.parquet", "_SUCCESS", ".hidden.crc",
                "year=2024/_tmp/x.parquet", "year=2024/.crc/y",
                "year=2024/month=2/_marker", "_staging/z.parquet"):
        hfs.write_bytes(f"{root}/{rel}", b"x")
    want = staging._walk_files(Recursive(hfs), root)
    assert want == ["top.parquet", "year=2024/month=1/a.parquet",
                    "year=2024/month=1/b.parquet",
                    "year=2024/month=2/c.parquet",
                    "year=2025/month=1/d.parquet"]
    assert hfs.walk_files(root) == want
    probe = CountingFS(hfs)
    assert staging._walk_files(probe, root) == want
    assert dict(probe.counts) == {"list": 1}
    assert hfs.walk_files(f"{viewfs_root}/missing") == []
    # stores without the hook keep the recursive walk through CountingFS
    assert getattr(CountingFS(LocalFS()), "walk_files", None) is None


class ObjectStoreFS(LocalFS):
    """LocalFS constrained to object-store semantics: no atomic rename,
    and DIRECTORY renames are forbidden outright (an object store has
    no directories to rename — only per-object copy+delete).

    The one-time ``_immutable`` bootstrap write is exempted: it is a
    bounded, write-once side store whose object-store port is the same
    manifest treatment (kept out of scope of the partition publish).
    """

    def supports_atomic_rename(self, path: str) -> bool:
        return False

    def rename(self, src: str, dst: str) -> bool:
        from pathlib import Path
        if "_immutable" not in src:
            assert not Path(src).is_dir(), \
                f"directory rename {src!r} on an object store"
        return super().rename(src, dst)


class CrashAfterFileMoves(ObjectStoreFS):
    """ObjectStoreFS that dies after ``allowed`` publish file-moves."""

    def __init__(self, allowed: int):
        self._allowed = allowed
        self._moves = 0

    def rename(self, src: str, dst: str) -> bool:
        if "_staging" in src or "_staging" in dst:
            if self._moves >= self._allowed:
                raise RuntimeError("injected crash during publish")
            self._moves += 1
        return super().rename(src, dst)


def test_manifest_publish_engages_on_non_atomic_store(spark, tmp_path,
                                                      seq_schema):
    """On a store without atomic rename the publish must be file-
    granular (ObjectStoreFS asserts no directory ever moves) and the
    intent must carry the manifests."""
    import json
    coll = zc.create_collection(spark, str(tmp_path / "os"),
                                schema=seq_schema, axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll._fs = ObjectStoreFS()
    coll._catalog._fs = coll._fs
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    assert coll.query().count() == 4

    # replacement insert: parking + moves, still file-granular only
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 5.0))
    rows = coll.query().collect()
    assert len(rows) == 4
    assert all(r["value"] == [5.0, 5.0, 5.0] for r in rows)


@pytest.mark.parametrize("allowed_moves", [0, 2, 5])
def test_non_atomic_crash_interleavings_converge(spark, tmp_path,
                                                 seq_schema,
                                                 allowed_moves):
    """Kill the file-granular publish after k moves (parking moves and
    manifest moves interleave): recover must converge to exactly the
    new generation — the manifest is what separates old from new when
    both cohabit a partition dir."""
    coll = zc.create_collection(spark, str(tmp_path / "osc"),
                                schema=seq_schema, axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll._fs = ObjectStoreFS()
    coll._catalog._fs = coll._fs
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))

    crasher = CrashAfterFileMoves(allowed_moves)
    coll._fs = crasher
    coll._catalog._fs = crasher
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 9.0))
    finally:
        fs = ObjectStoreFS()
        coll._fs = fs
        coll._catalog._fs = fs

    assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
    rows = coll.query().collect()
    assert len(rows) == 4  # no old/new union duplicates
    assert all(r["value"] == [9.0, 9.0, 9.0] for r in rows)
    assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
    assert coll.query().count() == 4


def test_parking_converges_after_mid_copy_crash(tmp_path):
    """Object-store 'rename' is copy+delete: a crash BETWEEN the halves
    leaves the old file in dst AND parked.  Recovery must finish the
    delete half, not fail forever on 'destination exists'."""
    fs = ObjectStoreFS()
    root = str(tmp_path / "store")
    # generation 1 in place
    fs.write_text(f"{root}/num=1/old-file.parquet", "old")
    # staged generation 2 with intent + manifest
    sid, staged = staging.new_staging_dir(fs, root)
    fs.mkdirs(f"{staged}/num=1")
    fs.write_text(f"{staged}/num=1/new-file.parquet", "new")
    intent = staging.write_intent(
        fs, staged, mode="swap", relpaths=["num=1"],
        manifests={"num=1": ["new-file.parquet"]})
    # simulate the crashed half-rename: old file ALREADY parked but its
    # dst copy never deleted
    old_dir = f"{staged}/{staging.OLD_RELPATH}/num=1"
    fs.mkdirs(old_dir)
    fs.write_text(f"{old_dir}/old-file.parquet", "old")

    staging.apply_publish(fs, root, sid, staged, intent)
    assert fs.read_text(f"{root}/num=1/new-file.parquet") == "new"
    assert not fs.exists(f"{root}/num=1/old-file.parquet")  # gone


def test_manifest_swap_with_colliding_filenames(tmp_path):
    """Old and new generations sharing FILENAMES (deterministic layouts
    like zarr chunk names) must still swap correctly: the park-all
    phase + marker makes 'target exists' unambiguous."""
    fs = ObjectStoreFS()
    root = str(tmp_path / "store")
    fs.write_text(f"{root}/num=1/zarr.json", "OLD-META")
    fs.write_text(f"{root}/num=1/c0", "OLD-CHUNK")
    sid, staged = staging.new_staging_dir(fs, root)
    fs.mkdirs(f"{staged}/num=1")
    fs.write_text(f"{staged}/num=1/zarr.json", "NEW-META")
    fs.write_text(f"{staged}/num=1/c0", "NEW-CHUNK")
    intent = staging.write_intent(
        fs, staged, mode="swap", relpaths=["num=1"],
        manifests={"num=1": ["c0", "zarr.json"]})
    staging.apply_publish(fs, root, sid, staged, intent)
    assert fs.read_text(f"{root}/num=1/zarr.json") == "NEW-META"
    assert fs.read_text(f"{root}/num=1/c0") == "NEW-CHUNK"
    assert not fs.exists(staged)
