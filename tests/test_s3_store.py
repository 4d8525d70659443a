"""End-to-end tests against a REAL S3-semantics endpoint (moto server).

The reference contract-tests its store backends against moto-S3
(``/root/reference/zcollection/tests/test_backends.py:49-430``); these
tests do the same for the engine's :class:`S3FS` — a live HTTP S3 API
(moto ``ThreadedMotoServer``) spoken through boto3, where renames do
not exist (CopyObject + DeleteObject), directories are prefix fictions,
and ``supports_atomic_rename`` is honestly ``False``.  This validates
the previously-untested half of ``_NON_ATOMIC_RENAME_SCHEMES``: the
manifest-driven, file-granular staging publish and its crash recovery
run here against genuine object-store behavior, not a simulated FS.
"""

import json
import os

import numpy as np
import pandas as pd
import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

import zcollection_spark as zc  # noqa: E402
from zcollection_spark.collection import staging  # noqa: E402
from zcollection_spark.fs import S3FS, fs_for  # noqa: E402


def _seq_df(spark, schema, nums, value):
    bound = schema.with_partition_axis("num")
    pdf = pd.DataFrame({
        "num": np.array(nums, dtype=np.int64),
        "value": [[value] * 3] * len(nums),
        "static": [[10.0, 20.0, 30.0]] * len(nums)})
    return spark.createDataFrame(pdf, schema=bound.to_struct_type())


# ---------------------------------------------------------------------------
# store contract (reference test_backends.py surface)
# ---------------------------------------------------------------------------

def test_s3fs_contract(s3_root):
    fs = S3FS()
    assert fs.supports_atomic_rename(s3_root) is False

    fs.write_text(f"{s3_root}/a/b/file.txt", "payload")
    assert fs.exists(f"{s3_root}/a/b/file.txt")
    assert fs.exists(f"{s3_root}/a/b")       # prefix counts as a dir
    assert fs.exists(f"{s3_root}/a")
    assert not fs.exists(f"{s3_root}/a/bx")  # no partial-name match
    assert fs.read_text(f"{s3_root}/a/b/file.txt") == "payload"
    with pytest.raises(FileNotFoundError):
        fs.read_text(f"{s3_root}/a/b/missing.txt")

    fs.write_text(f"{s3_root}/a/b/two.txt", "2")
    fs.write_text(f"{s3_root}/a/c.txt", "3")
    assert fs.list_files(f"{s3_root}/a/b") == ["file.txt", "two.txt"]
    assert fs.list_files(f"{s3_root}/a") == ["c.txt"]
    assert fs.list_dirs(f"{s3_root}/a") == ["b"]

    # rename = copy+delete; refuses occupied destinations
    assert fs.rename(f"{s3_root}/a/c.txt", f"{s3_root}/a/d.txt")
    assert fs.read_text(f"{s3_root}/a/d.txt") == "3"
    assert not fs.exists(f"{s3_root}/a/c.txt")
    assert not fs.rename(f"{s3_root}/a/d.txt", f"{s3_root}/a/b/file.txt")
    assert not fs.rename(f"{s3_root}/a/ghost.txt", f"{s3_root}/a/x.txt")

    # prefix ("directory") rename moves every object under it
    assert fs.rename(f"{s3_root}/a/b", f"{s3_root}/moved")
    assert fs.read_text(f"{s3_root}/moved/file.txt") == "payload"
    assert not fs.exists(f"{s3_root}/a/b")

    fs.delete(f"{s3_root}/moved")
    assert not fs.exists(f"{s3_root}/moved")
    assert fs.list_dirs(s3_root) == ["a"]


def test_s3fs_partition_listing_is_flat(s3_root):
    """Partition discovery and staging walks are single flat LISTs
    (O(files/1000) round-trips), not per-directory recursion."""
    fs = S3FS()
    for num in (3, 1, 2):
        fs.write_text(f"{s3_root}/num={num}/part-0.parquet", "x")
    fs.write_text(f"{s3_root}/num=1/extra/nested.parquet", "x")
    fs.write_text(f"{s3_root}/_staging/abc/num=9/p.parquet", "x")
    fs.write_text(f"{s3_root}/_catalog/state.json", "{}")

    assert fs.list_partition_dirs(s3_root, 1) == \
        ["num=1", "num=2", "num=3"]
    fs.api_counts.clear()
    assert fs.walk_files(f"{s3_root}/num=1") == \
        ["extra/nested.parquet", "part-0.parquet"]
    assert fs.api_counts["list"] == 1  # ONE flat LIST, no recursion


# ---------------------------------------------------------------------------
# collection end-to-end on s3://
# ---------------------------------------------------------------------------

def test_s3_collection_roundtrip(spark, seq_schema, s3_root):
    """create → insert → partitions → query → reopen → query, entirely
    on s3://; the staging publish runs the manifest path (no renames
    exist) and the catalog commit is an atomic PUT."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, S3FS)
    assert coll._fs.supports_atomic_rename(path) is False

    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    assert coll.query().count() == 4
    assert coll.query(filters="num >= 1").count() == 2
    # the publish moved objects via CopyObject (the only move S3 has)
    assert coll._fs.api_counts["copy"] > 0

    reopened = zc.open_collection(spark, path, mode="rw")
    assert reopened.query().count() == 4
    rows = reopened.query(filters="num == 2").collect()
    assert [r["value"] for r in rows] == [[1.0, 1.0, 1.0]]


def test_s3_replacement_insert_invalidates_mirror(spark, seq_schema,
                                                  s3_root):
    """A replacement insert swaps generations remotely; the ETag-keyed
    localize mirror must serve the NEW objects, never a stale cache."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))
    assert coll.query().count() == 4  # warms the mirror

    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 7.0))
    rows = coll.query().collect()
    assert len(rows) == 4
    assert all(r["value"] == [7.0, 7.0, 7.0] for r in rows)


def test_s3_merge_paths(spark, seq_schema, s3_root):
    """concat (append-publish) and upsert (read-merge-swap) on s3://."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))
    coll.insert(_seq_df(spark, seq_schema, [1, 2], 2.0), merge="concat")
    assert coll.query().count() == 4
    assert coll.query(filters="num == 1").count() == 2

    coll.insert(_seq_df(spark, seq_schema, [1], 9.0), merge="upsert")
    rows = coll.query(filters="num == 1").collect()
    values = sorted(tuple(r["value"]) for r in rows)
    assert (9.0, 9.0, 9.0) in values


def test_s3_writer_manifest_skips_commit_listing(spark, seq_schema,
                                                 s3_root, monkeypatch):
    """The upload step knows exactly what it wrote, so building the
    publish manifest must never list STAGING (the r4 driver-side walk is
    gone from the commit path).  The phase-1 park walk over each dst
    partition is allowed — one flat LIST per partition is the price of
    converging from any crash interleaving (old-generation discovery
    cannot come from writer knowledge)."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))

    real_walk = staging._walk_files

    def guard(fs, root, rel=""):
        if f"/{staging.STAGING_RELPATH}/" in root:
            raise AssertionError(f"manifest fell back to a walk: {root}")
        return real_walk(fs, root, rel)

    monkeypatch.setattr(staging, "_walk_files", guard)
    coll.insert(_seq_df(spark, seq_schema, [0, 1, 2], 1.0))
    assert coll.query().count() == 3


def test_s3_crash_mid_publish_recovers(spark, seq_schema, s3_root):
    """Kill the file-granular publish after k object moves on REAL S3
    semantics; repair must converge to exactly the new generation."""

    class CrashAfterMoves:
        def __init__(self, inner, allowed):
            self._inner = inner
            self._allowed = allowed
            self.moves = 0

        def _gate(self, src, dst):
            if "_staging" in src or "_staging" in dst:
                if self.moves >= self._allowed:
                    raise RuntimeError("injected crash during publish")
                self.moves += 1

        def rename(self, src, dst):
            self._gate(src, dst)
            return self._inner.rename(src, dst)

        def move_file(self, src, dst):  # the publish hot path on S3
            self._gate(src, dst)
            return self._inner.move_file(src, dst)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    for allowed in (0, 2, 5):
        path = f"{s3_root}/coll-{allowed}"
        coll = zc.create_collection(spark, path, schema=seq_schema,
                                    axis="num",
                                    partitioning=zc.Sequence(("num",)))
        coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))

        real_fs = coll._fs
        coll._fs = CrashAfterMoves(real_fs, allowed)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 9.0))
        finally:
            coll._fs = real_fs

        assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
        rows = coll.query().collect()
        assert len(rows) == 4, f"allowed={allowed}"
        assert all(r["value"] == [9.0, 9.0, 9.0] for r in rows)
        # idempotent
        assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
        assert coll.query().count() == 4


def test_s3_crash_between_copy_and_delete_converges(spark, seq_schema,
                                                    s3_root):
    """move_file is CopyObject + DeleteObject with a crash window
    between the halves: target and source both exist afterwards.
    Recovery must treat the existing target as published (skip) and the
    orphaned source as staging debris (cleaned at commit)."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))

    class CrashMidMove:
        def __init__(self, inner):
            self._inner = inner
            self.fired = False

        def move_file(self, src, dst):
            if not self.fired and "_staging" in src \
                    and not dst.endswith(".parked"):
                self.fired = True
                # do only the COPY half, then die
                sb, sk = self._inner._bk(src)
                db, dk = self._inner._bk(dst)
                self._inner._client.copy_object(
                    Bucket=db, Key=dk,
                    CopySource={"Bucket": sb, "Key": sk})
                raise RuntimeError("injected crash mid-move")
            return self._inner.move_file(src, dst)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    real_fs = coll._fs
    coll._fs = CrashMidMove(real_fs)
    try:
        with pytest.raises(RuntimeError, match="injected crash mid-move"):
            coll.insert(_seq_df(spark, seq_schema, [0, 1], 4.0))
    finally:
        coll._fs = real_fs

    assert coll.repair_catalog() == ["num=0", "num=1"]
    rows = coll.query().collect()
    assert len(rows) == 2
    assert all(r["value"] == [4.0, 4.0, 4.0] for r in rows)
    # no staging orphans left behind after the roll-forward commit
    assert not real_fs.exists(f"{path}/{staging.STAGING_RELPATH}")


def test_s3_publish_per_file_op_budget(spark, seq_schema, s3_root):
    """The publish hot path must cost ~1 COPY + bounded extras per
    staged file — no redundant dst-exists HEAD/LIST inside the move
    (the caller already checked).  Budget pinned so a future wrapper
    can't silently reintroduce the per-file round-trips."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    fs = coll._fs
    fs.api_counts.clear()
    coll.insert(_seq_df(spark, seq_schema, [0, 1, 2], 1.0))
    counts = dict(fs.api_counts)
    # fresh insert, 3 partitions x 1 file + the one-time _immutable
    # publish: exactly one COPY per moved file (parking copies nothing —
    # dst partitions are empty)
    assert counts["copy"] == 4, counts
    # per-file metadata overhead stays bounded: phase-2 exists-check +
    # move, phase-1 marker/park bookkeeping, intent/catalog/config I/O.
    # 15 HEADs/file would mean the redundant-check regression returned.
    assert counts.get("head", 0) <= 10 * 3, counts
    assert counts.get("list", 0) <= 10 * 3, counts


def test_s3_stats_columns_cost_no_store_op(spark, s3_root):
    """Zone maps are read from the footers in local scratch before the
    upload, so a parquet insert and an upsert with ``stats_columns``
    issue exactly the store ops of a twin without them."""
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    ddl = "i long, value double, num long"
    first = [(i, float(i), i % 3) for i in range(9)]
    upsert = [(i, -float(i), i % 3) for i in range(6, 12)]
    counts = []
    for name, extra in (("plain", {}), ("stats", {"stats_columns":
                                                  ["value"]})):
        coll = zc.create_collection(
            spark, f"{s3_root}/{name}", schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)), **extra)
        fs = coll._fs
        ops = []
        for rows, merge in ((first, None), (upsert, "upsert")):
            fs.api_counts.clear()
            coll.insert(spark.createDataFrame(rows, ddl), merge=merge)
            ops.append(dict(fs.api_counts))
        counts.append(ops)
    assert counts[0] == counts[1]
    assert all(op.get("get") and op.get("list") for op in counts[1])
    assert coll._catalog.read_stats()["num=0"]["value"] == [-9.0, 3.0, 0]


def test_s3_native_connector_write_reads_footers_from_store(
        spark, s3_root, tmp_path, monkeypatch):
    """With ``requires_localization`` off, Spark writes s3:// through
    its connector and the staged files' footers are read from the
    store: the write's zone maps cost one LIST plus one ranged GET per
    staged file.  The connector is stood in for by a local Spark write
    plus an upload, which lands the same objects."""
    from zcollection_spark.collection.stats import collect_zone_stats
    schema = (zc.SchemaBuilder()
              .add_dimension("i", chunks=2)
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, f"{s3_root}/native", schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), stats_columns=["value"])
    fs = coll._fs
    monkeypatch.setattr(fs, "requires_localization", False)
    df = spark.createDataFrame(
        [(i, float(i) if i != 3 else float("nan"), i % 3)
         for i in range(9)], "i long, value double, num long")
    uploaded = []

    def connector_write(dest):
        local = str(tmp_path / "jvm")
        (df.coalesce(1).write.option("maxRecordsPerFile", 2)
         .partitionBy("num").parquet(local))
        uploaded.extend(fs.upload_tree(local, dest))
        fs.api_counts.clear()

    manifest, stats = coll._spark_parquet_write(
        f"{coll.path}/{staging.STAGING_RELPATH}/native", connector_write,
        with_stats=True)
    assert manifest is None  # native stores walk at publish time
    assert len(uploaded) == 6
    assert dict(fs.api_counts) == {"list": 1, "get": len(uploaded)}
    want = collect_zone_stats(df, coll.partitioning, ["value"],
                              ["num=0", "num=1", "num=2"])
    assert stats == want
    assert stats["num=0"]["value"] == [None, None, 0]  # holds the NaN
    assert stats["num=1"]["value"] == [1.0, 7.0, 0]


def test_s3_intentless_debris_quarantined_file_granular(spark, seq_schema,
                                                        s3_root):
    """Quarantine on S3 has no directory rename to lean on: recover()
    must move intent-less debris object-by-object, idempotently."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))
    fs = coll._fs
    debris = f"{path}/{staging.STAGING_RELPATH}/deadbeef"
    fs.write_text(f"{debris}/num=7/part-0.parquet", "garbage")
    fs.write_text(f"{debris}/.hidden-marker", "x")

    assert "num=7" not in coll.partitions()
    assert coll.repair_catalog() == ["num=0", "num=1"]
    qdir = f"{path}/{staging.QUARANTINE_RELPATH}/deadbeef"
    assert fs.read_text(f"{qdir}/num=7/part-0.parquet") == "garbage"
    assert fs.read_text(f"{qdir}/.hidden-marker") == "x"  # carried along
    assert not fs.exists(debris)
    assert coll.repair_catalog() == ["num=0", "num=1"]


def test_s3_cold_open_op_budget(spark, seq_schema, s3_root):
    """The O(1)-catalog claim on real S3: a cold open + partition list
    is a bounded handful of API calls and ZERO LISTs."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1, 2], 1.0))

    reopened = zc.open_collection(spark, path)
    fs = reopened._fs
    fs.api_counts.clear()
    assert reopened.partitions() == ["num=0", "num=1", "num=2"]
    counts = dict(fs.api_counts)
    assert counts.get("list", 0) == 0, counts
    assert counts.get("get", 0) <= 2, counts
    assert counts.get("head", 0) <= 2, counts


def test_s3_scheme_routes_to_s3fs(s3_endpoint):
    assert isinstance(fs_for("s3://bucket/x"), S3FS)
    assert isinstance(fs_for("s3a://bucket/x"), S3FS)


def test_s3_crash_mid_cleanup_quarantines(spark, seq_schema, s3_root):
    """The r5 cleanup-ordering guarantee on real S3: intent deleted
    first, so a crash mid-cleanup leaves debris that quarantines —
    published data stays the new generation."""
    path = f"{s3_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))

    class CrashOnStagingDelete:
        def __init__(self, inner):
            self._inner = inner

        def delete(self, p):
            if staging.STAGING_RELPATH in p \
                    and not p.endswith(staging.INTENT_NAME):
                raise RuntimeError("injected crash during cleanup")
            self._inner.delete(p)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    real_fs = coll._fs
    coll._fs = CrashOnStagingDelete(real_fs)
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            coll.insert(_seq_df(spark, seq_schema, [0, 1], 5.0))
    finally:
        coll._fs = real_fs

    # the data landed and committed before cleanup crashed
    rows = coll.query().collect()
    assert all(r["value"] == [5.0, 5.0, 5.0] for r in rows)
    assert coll.repair_catalog() == ["num=0", "num=1"]
    rows = coll.query().collect()
    assert len(rows) == 2
    assert all(r["value"] == [5.0, 5.0, 5.0] for r in rows)


# ---------------------------------------------------------------------------
# error classification (ADVICE r5): transient faults never read as absence
# ---------------------------------------------------------------------------

def _client_error(status, code):
    from botocore.exceptions import ClientError
    return ClientError(
        {"Error": {"Code": code, "Message": code},
         "ResponseMetadata": {"HTTPStatusCode": status}}, "op")


def test_move_file_transient_copy_fault_raises_not_false(s3_root,
                                                         monkeypatch):
    """A throttle/5xx during CopyObject must RAISE — returning False
    ('source missing') would surface in staging recovery as the
    misleading 'staged data incomplete, cannot roll forward'."""
    fs = S3FS()
    fs.write_text(f"{s3_root}/src.txt", "x")

    def throttled(**kwargs):
        raise _client_error(503, "SlowDown")
    monkeypatch.setattr(fs._client, "copy_object", throttled)
    from botocore.exceptions import ClientError
    with pytest.raises(ClientError):
        fs.move_file(f"{s3_root}/src.txt", f"{s3_root}/dst.txt")
    # the source is untouched — a retry can proceed
    assert fs.exists_file(f"{s3_root}/src.txt")


def test_move_file_missing_source_returns_false(s3_root):
    fs = S3FS()
    assert fs.move_file(f"{s3_root}/no-such.txt",
                        f"{s3_root}/dst.txt") is False


def test_head_403_maps_to_clear_permissions_error(s3_root, monkeypatch):
    """Restricted credentials (no s3:ListBucket) make S3 answer HEAD on
    a missing key with 403; that must surface as a StoreError naming
    the permission, not masquerade as absent or a raw ClientError."""
    from zcollection_spark.errors import StoreError
    fs = S3FS()

    def denied(**kwargs):
        raise _client_error(403, "AccessDenied")
    monkeypatch.setattr(fs._client, "head_object", denied)
    with pytest.raises(StoreError, match="s3:ListBucket"):
        fs.exists_file(f"{s3_root}/whatever.txt")


# ---------------------------------------------------------------------------
# gs:// routing: the S3-compatible object-store class (GCS interop API)
# ---------------------------------------------------------------------------

def test_gs_scheme_routes_through_s3_surface(s3_endpoint, monkeypatch):
    """``gs://`` paths speak the S3 protocol against the GCS XML
    interoperability endpoint (HMAC keys) — the moto server stands in
    for it here, exactly as it stands in for AWS.  The path keeps its
    gs:// scheme end to end; S3FS's bucket/key split is
    scheme-agnostic."""
    import uuid

    import boto3

    from zcollection_spark.fs import S3FS, fs_for

    bucket = f"zc-gs-{uuid.uuid4().hex[:12]}"
    boto3.client("s3", endpoint_url=s3_endpoint,
                 region_name="us-east-1").create_bucket(Bucket=bucket)
    monkeypatch.setenv("GCS_ENDPOINT_URL", s3_endpoint)
    monkeypatch.setenv("GCS_ACCESS_KEY_ID", "test")
    monkeypatch.setenv("GCS_SECRET_ACCESS_KEY", "test")

    root = f"gs://{bucket}/store"
    fs = fs_for(root)
    assert isinstance(fs, S3FS)
    assert fs.supports_atomic_rename(root) is False
    fs.write_text(f"{root}/a/file.txt", "payload")
    assert fs.read_text(f"{root}/a/file.txt") == "payload"
    assert fs.list_files(f"{root}/a") == ["file.txt"]
    assert fs.move_file(f"{root}/a/file.txt", f"{root}/b/file.txt")
    assert not fs.exists_file(f"{root}/a/file.txt")
    assert fs.read_text(f"{root}/b/file.txt") == "payload"
    # distinct client cache entry from the s3:// one (different creds)
    assert fs_for(f"s3://{bucket}/store") is not fs


def test_zarr_on_hmac_gs_writes_chunks_beside_its_catalog(
        spark, s3_endpoint, monkeypatch):
    """With GCS HMAC keys ``fs_for`` sends a ``gs://`` catalog through
    the S3-interop client; the zarr tasks resolve the same way (the
    keys ride the shipped env snapshot), so the chunks land in the same
    interop bucket and read back."""
    import uuid

    import boto3

    from zcollection_spark.zarr3.collection import create_zarr_collection

    bucket = f"zc-gs-{uuid.uuid4().hex[:12]}"
    client = boto3.client("s3", endpoint_url=s3_endpoint,
                          region_name="us-east-1")
    client.create_bucket(Bucket=bucket)
    for var in ("GCS_BEARER_TOKEN", "GCS_KEYFILE", "GCE_METADATA_ENDPOINT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("GCS_ENDPOINT_URL", s3_endpoint)
    monkeypatch.setenv("GCS_ACCESS_KEY_ID", "test")
    monkeypatch.setenv("GCS_SECRET_ACCESS_KEY", "test")
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",))
              .build("num"))
    coll = create_zarr_collection(spark, f"gs://{bucket}/zc", schema=schema,
                                  axis="num",
                                  partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, S3FS)
    pdf = pd.DataFrame({"num": np.array([0, 0, 1], dtype=np.int64),
                        "v": [1.5, 2.5, 3.5]})
    coll.insert(spark.createDataFrame(pdf, schema=schema.to_struct_type()))
    assert sorted(r.v for r in coll.query().collect()) == [1.5, 2.5, 3.5]
    keys = {o["Key"] for o in client.list_objects_v2(
        Bucket=bucket)["Contents"]}
    assert "zc/_catalog/state.json" in keys
    assert "zc/num=0/v/zarr.json" in keys
    assert any(k.startswith("zc/num=1/v/c/") for k in keys)


def test_s3_pinned_retention_is_server_side_copy(spark, seq_schema,
                                                 s3_root):
    """Pinned-generation retention on s3://: the copy-on-republish
    copies run as SERVER-SIDE CopyObject (bytes never reach the
    driver — the contract that keeps retention viable for a pinned
    100-GB partition), and the pinned generation reads bit-identical
    after the republish."""
    path = f"{s3_root}/coll_pin"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))
    gen = coll.generation()
    coll.pin_generation(gen)
    before = sorted((r["num"], tuple(r["value"]))
                    for r in coll.query().collect())
    copies_before = coll._fs.api_counts["copy"]
    coll.insert(_seq_df(spark, seq_schema, [0], 9.0))   # republish num=0
    # retention happened via CopyObject (no driver byte round-trip)
    assert coll._fs.api_counts["copy"] > copies_before
    assert sorted((r["num"], tuple(r["value"])) for r in
                  coll.query(at_generation=gen).collect()) == before
    assert coll.stale_partitions(gen) == []
    # unpin reclaims
    coll.unpin_generation(gen)
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.query(at_generation=gen)


def test_copy_file_multipart_past_single_call_limit(s3_root):
    """Objects past S3's single-call CopyObject ceiling copy via
    multipart UploadPartCopy with ranged parts — a pinned partition
    holding a >5 GiB part-file must retain, not fail every publish.
    The thresholds shrink so a small object drives the multipart
    path."""
    fs = S3FS()
    mib = 1024 * 1024
    payload = bytes(range(256)) * (12 * 4096)   # 12 MiB
    fs.write_bytes(f"{s3_root}/big.bin", payload)
    fs._COPY_SINGLE_MAX = 8 * mib               # instance-only override
    fs._COPY_PART_SIZE = 5 * mib                # S3's real minimum part
    copies0 = fs.api_counts["copy"]
    assert fs.copy_file(f"{s3_root}/big.bin", f"{s3_root}/big2.bin")
    assert fs.api_counts["copy"] - copies0 == 3   # 5+5+2 MiB parts
    assert fs.read_bytes(f"{s3_root}/big2.bin") == payload
    # small objects still take the one-call path
    fs.write_bytes(f"{s3_root}/small.bin", b"x")
    copies1 = fs.api_counts["copy"]
    assert fs.copy_file(f"{s3_root}/small.bin", f"{s3_root}/small2.bin")
    assert fs.api_counts["copy"] - copies1 == 1
    # missing source contract survives both paths
    assert fs.copy_file(f"{s3_root}/nope.bin", f"{s3_root}/x.bin") \
        is False


def test_materialize_dir_on_object_store(spark, s3_root):
    """`dedup.materialize_dir` pointed at an OBJECT store (the knob's
    stated audience: clusters where executor loss is routine) runs the
    full write-once / read-back / delete cycle through fs.py — Spark
    writes local scratch, S3FS uploads the table, the read comes off
    the ETag-validated localize mirror, release deletes the remote
    table, and sweep_intermediates reclaims a leaked one."""
    from zcollection_spark import config
    from zcollection_spark.functions import (cached_intermediates,
                                             ngram_jaccard_pairs,
                                             unpersist_intermediates)
    from zcollection_spark.functions.dedup import sweep_intermediates

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % (i % 3))
         for i in range(30)], "doc_id long, text string")
    expected = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    docs, id_col="doc_id", text_col="text",
                    shingle_size=3, threshold=0.3, max_df=100)
                .collect()}

    root = f"{s3_root}/intermediates"
    fs = S3FS()
    with config.override(**{"dedup.materialize_dir": root}):
        pairs = ngram_jaccard_pairs(docs, id_col="doc_id",
                                    text_col="text", shingle_size=3,
                                    threshold=0.3, max_df=100)
        got = {(r["id_a"], r["id_b"], round(r["jaccard"], 9))
               for r in pairs.collect()}
        assert got == expected
        # the tables live on the OBJECT store, not the local FS
        remote = [d for d in fs.list_dirs(root)
                  if d.startswith("zc-intermediate-")]
        assert len(remote) >= 2          # raw + guarded expansions
        assert len(cached_intermediates(pairs)) >= 2
        # the read plan roots at the shared store's localize mirror
        import glob
        from zcollection_spark import fs as fsmod
        pin_store = fsmod.fs_for(root, spark)
        mirrors = glob.glob(os.path.join(
            pin_store._scratch_root, "r", "*", "*zc-intermediate-*"))
        assert len(mirrors) >= 2
        # release deletes the remote tables AND their localize mirrors
        # through the same handle — post-release the plan is not
        # re-runnable from a stale mirror, and no local disk leaks
        unpersist_intermediates(pairs)
        assert cached_intermediates(pairs) == []
        assert [d for d in fs.list_dirs(root)
                if d.startswith("zc-intermediate-")] == []
        assert all(not os.path.exists(m) for m in mirrors)
        # leak mode: a result constructed but never released leaves
        # orphan tables behind; the sweep helper reclaims them
        leaked = ngram_jaccard_pairs(docs, id_col="doc_id",
                                     text_col="text", shingle_size=3,
                                     threshold=0.3, max_df=100)
        assert len([d for d in fs.list_dirs(root)
                    if d.startswith("zc-intermediate-")]) >= 2
        del leaked
        leaked_mirrors = glob.glob(os.path.join(
            pin_store._scratch_root, "r", "*", "*zc-intermediate-*"))
        assert len(leaked_mirrors) >= 2
        swept = sweep_intermediates(spark)
        assert len(swept) >= 2
        assert all(p.startswith(root) for p in swept)
        assert [d for d in fs.list_dirs(root)
                if d.startswith("zc-intermediate-")] == []
        # the sweep reclaims the leaked localize mirrors too
        assert all(not os.path.exists(m) for m in leaked_mirrors)
    # outside the override, sweep is a documented no-op
    assert sweep_intermediates(spark, None) == []
