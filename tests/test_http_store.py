"""Read-only HTTP(S) store: published-manifest collections over a live
local HTTP server (reference parity: the obstore http backend,
``/root/reference/zcollection/store/obstore_store.py:27``).

HTTP cannot LIST, so the authoring side publishes ``_catalog/files.json``
(``Collection.write_manifest``) and ``HttpFS`` mirrors exactly the named
files (ETag/Last-Modified-validated).  Every mutating operation raises
ReadOnlyError — the store class is honest about what a static file
server can do.
"""

import functools
import http.server
import threading

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.errors import ReadOnlyError, StoreError
from zcollection_spark.fs import HttpFS, fs_for


@pytest.fixture()
def http_root(tmp_path):
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(tmp_path))
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", tmp_path
    srv.shutdown()


def _publish(spark, local_dir):
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, str(local_dir / "coll"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({
        "i": np.arange(30, dtype=np.int64),
        "value": np.arange(30, dtype=np.float64) * 1.5,
        "num": np.repeat(np.arange(3, dtype=np.int64), 10)})
    coll.insert(spark.createDataFrame(pdf,
                                      schema=coll.schema.to_struct_type()))
    manifest = coll.write_manifest()
    return coll, manifest


def test_http_collection_end_to_end(spark, http_root):
    url, tmp_path = http_root
    local, manifest = _publish(spark, tmp_path)
    assert set(manifest) == {"num=0", "num=1", "num=2"}

    coll = zc.open_collection(spark, f"{url}/coll", mode="r")
    assert isinstance(coll._fs, HttpFS)
    assert coll.partitions() == ["num=0", "num=1", "num=2"]

    got = coll.query(filters="num == 1")
    want = local.query(filters="num == 1")
    assert sorted(r.value for r in got.collect()) \
        == sorted(r.value for r in want.collect())
    # full query too
    assert coll.query().count() == 30


def test_http_store_is_read_only(spark, http_root):
    url, tmp_path = http_root
    _publish(spark, tmp_path)
    fs = fs_for(f"{url}/coll")
    with pytest.raises(ReadOnlyError):
        fs.write_text(f"{url}/coll/x.txt", "nope")
    with pytest.raises(ReadOnlyError):
        fs.delete(f"{url}/coll/num=0")
    with pytest.raises(ReadOnlyError):
        fs.copy_file(f"{url}/coll/num=0", f"{url}/coll/num=9")
    coll = zc.open_collection(spark, f"{url}/coll", mode="r")
    with pytest.raises(ReadOnlyError):
        coll.insert(coll.query())


def test_http_without_manifest_fails_loudly(spark, http_root):
    url, tmp_path = http_root
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    zc.create_collection(spark, str(tmp_path / "c2"), schema=schema,
                         axis="i", partitioning=zc.Sequence(("num",)))
    fs = fs_for(f"{url}/c2")
    with pytest.raises(StoreError, match="write_manifest"):
        fs.list_partition_dirs(f"{url}/c2", 1)


def test_http_manifest_refresh_and_mirror_validation(spark, http_root):
    """Republished data (new manifest ETag) must be re-mirrored; the
    mirror never serves a stale generation."""
    url, tmp_path = http_root
    local, _ = _publish(spark, tmp_path)
    coll = zc.open_collection(spark, f"{url}/coll", mode="r")
    assert coll.query(filters="num == 2").count() == 10

    import pyspark.sql.functions as F
    local.insert(local.query(filters="num == 2")
                 .withColumn("value", F.col("value") + 1000.0),
                 merge="replace")
    local.write_manifest()
    coll2 = zc.open_collection(spark, f"{url}/coll", mode="r")
    vals = sorted(r.value for r in
                  coll2.query(filters="num == 2").collect())
    assert vals[0] >= 1000.0


# ---------------------------------------------------------------------------
# zarr3 over HTTP: no manifest needed — chunk names come from zarr metadata
# ---------------------------------------------------------------------------

def test_zarr3_collection_served_over_http(spark, http_root):
    """The zarr3 layout is directly servable from a static file server:
    the catalog GET names the partitions and zarr metadata names every
    chunk, so reads are pure GETs (shard partial reads as HTTP Range
    requests; Range-less servers degrade to slice-locally)."""
    from zcollection_spark.zarr3.collection import (create_zarr_collection,
                                                    open_zarr_collection)
    url, tmp_path = http_root
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",))
              .build("num"))
    local = create_zarr_collection(
        spark, str(tmp_path / "zcoll"), schema=schema, axis="num",
        partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({"num": np.array([0, 0, 1, 2], dtype=np.int64),
                        "v": [1.5, 2.5, 3.5, 4.5]})
    local.insert(spark.createDataFrame(pdf,
                                       schema=schema.to_struct_type()))

    coll = open_zarr_collection(spark, f"{url}/zcoll")
    assert isinstance(coll._fs, HttpFS)
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    got = sorted(r.v for r in coll.query().collect())
    assert got == [1.5, 2.5, 3.5, 4.5]
    assert coll.query(filters="num >= 1").count() == 2


def test_zarr3_array_http_ranged_reads(http_root):
    """Sharded partial reads over HTTP: read_array_slice issues Range
    requests; python's http.server ignores Range (200 full body) and
    the blob layer slices locally — results identical."""
    from zcollection_spark.zarr3 import core
    url, tmp_path = http_root
    data = np.arange(1000, dtype=np.float64)
    core.write_array(str(tmp_path / "sharded"), data,
                     chunk_shape=(64,), shard_shape=(256,))
    out = core.read_array(f"{url}/sharded")
    np.testing.assert_array_equal(out, data)
    sl = core.read_array_slice(f"{url}/sharded", 100, 300)
    np.testing.assert_array_equal(sl, data[100:300])


def test_http_collection_with_immutable_variables(spark, http_root):
    """Review fix: _immutable/data.parquet is a Spark-written parquet
    DIRECTORY — the manifest must key it by the full relpath and list
    the part files inside, and HttpFS.exists must answer directory
    probes from the manifest (directory URLs 404 on real servers).
    Without both, immutable variables silently vanish over HTTP."""
    schema = (zc.SchemaBuilder()
              .add_dimension("num")
              .add_dimension("x", size=3)
              .add_variable("num", "int64", ("num",))
              .add_variable("value", "float32", ("num", "x"))
              .add_variable("static", "float32", ("x",))
              .build())
    url, tmp_path = http_root
    local = zc.create_collection(
        spark, str(tmp_path / "coll"), schema=schema, axis="num",
        partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({
        "num": np.array([0, 0, 1], dtype=np.int64),
        "value": [[1.0, 2.0, 3.0]] * 3,
        "static": [[10.0, 20.0, 30.0]] * 3})
    local.insert(spark.createDataFrame(
        pdf, schema=schema.with_partition_axis("num").to_struct_type()))
    manifest = local.write_manifest()
    assert manifest["_immutable/data.parquet"], \
        "manifest must list the part files INSIDE the parquet directory"

    coll = zc.open_collection(spark, f"{url}/coll", mode="r")
    rows = coll.query().collect()
    assert len(rows) == 3
    # the immutable column is attached, not silently dropped
    assert all(list(r.static) == [10.0, 20.0, 30.0] for r in rows)


def test_http_stale_manifest_is_a_loud_error(spark, http_root):
    """Review fix: a publisher that commits new partitions but forgets
    write_manifest() must produce a clear error, not silently-empty
    replaced partitions (the old file names 404 and get purged)."""
    url, tmp_path = http_root
    local, _ = _publish(spark, tmp_path)
    import pyspark.sql.functions as F
    local.insert(local.query(filters="num == 2")
                 .withColumn("value", F.col("value") + 1000.0),
                 merge="replace")        # catalog gen bumps; manifest stale
    coll = zc.open_collection(spark, f"{url}/coll", mode="r")
    with pytest.raises(StoreError, match="stale manifest"):
        coll.query(filters="num == 2").collect()


def test_gs_without_interop_config_falls_to_hadoop(spark, monkeypatch):
    """Review fix: gs:// routes to the S3-compatible surface ONLY with
    explicit GCS interop (HMAC) config — otherwise the JVM
    gcs-connector path (service-account auth) keeps working instead of
    signing googleapis.com requests with AWS credentials."""
    from zcollection_spark.fs import HadoopFS
    for var in ("GCS_ENDPOINT_URL", "GCS_ACCESS_KEY_ID",
                "GCS_SECRET_ACCESS_KEY"):
        monkeypatch.delenv(var, raising=False)
    assert isinstance(fs_for("gs://bucket/x", spark), HadoopFS)


def test_http_refuses_legacy_v1_manifest_with_immutable(spark, http_root):
    """Review fix: a format-1 manifest that published the _immutable
    parquet DIRECTORY as a single file must be refused loudly — serving
    it would silently drop the immutable variables from every query."""
    import json as _json
    url, tmp_path = http_root
    local, _ = _publish(spark, tmp_path)
    doc = _json.loads((tmp_path / "coll" / "_catalog"
                       / "files.json").read_text())
    doc["format_version"] = 1
    doc["files"]["_immutable"] = ["data.parquet"]
    (tmp_path / "coll" / "_catalog" / "files.json").write_text(
        _json.dumps(doc))
    fs = fs_for(f"{url}/coll")
    fs._manifests.clear()
    with pytest.raises(StoreError, match="format_version 1"):
        fs.list_partition_dirs(f"{url}/coll", 1)


def test_gs_partial_config_falls_to_hadoop(spark, monkeypatch):
    """Endpoint-only or key-without-secret configs must NOT reach the
    S3 surface (they would sign googleapis.com requests with ambient
    AWS credentials or die with PartialCredentialsError)."""
    from zcollection_spark.fs import HadoopFS
    for var in ("GCS_ENDPOINT_URL", "GCS_ACCESS_KEY_ID",
                "GCS_SECRET_ACCESS_KEY"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("GCS_ENDPOINT_URL", "https://storage.googleapis.com")
    assert isinstance(fs_for("gs://b/x", spark), HadoopFS)
    monkeypatch.setenv("GCS_ACCESS_KEY_ID", "key-no-secret")
    assert isinstance(fs_for("gs://b/x", spark), HadoopFS)


def test_write_manifest_detects_concurrent_commit(spark, http_root):
    """Review fix: a commit landing between write_manifest's listing
    and its PUT must not leave a manifest whose file list/generation
    are stale.  A PERMANENTLY racing writer exhausts the bounded
    retries and raises."""
    url, tmp_path = http_root
    local, _ = _publish(spark, tmp_path)
    import itertools
    gens = itertools.count(7)  # never the same twice: always racing
    import zcollection_spark.errors as errs
    orig = local._catalog.generation
    local._catalog.generation = lambda: next(gens)
    try:
        with pytest.raises(errs.StoreError, match="kept changing"):
            local.write_manifest()
    finally:
        local._catalog.generation = orig


def test_write_manifest_retries_past_one_race(spark, http_root):
    """ADVICE fix: a commit landing between the pre-listing generation
    read and the manifest PUT triggers a REWRITE (post-PUT re-check),
    so the published manifest ends up carrying the settled
    generation instead of leaving a consumer-side hard error."""
    url, tmp_path = http_root
    local, _ = _publish(spark, tmp_path)
    import json as _json
    seq = [7, 8, 8, 8]  # cycle 1 sees 7 then 8 (race); cycle 2 stable

    def fake_gen(_seq=iter(seq)):
        return next(_seq, 8)

    orig = local._catalog.generation
    local._catalog.generation = lambda: fake_gen()
    try:
        manifest = local.write_manifest()
    finally:
        local._catalog.generation = orig
    assert set(manifest) == {"num=0", "num=1", "num=2"}
    doc = _json.loads(
        (tmp_path / "coll" / "_catalog" / "files.json").read_text())
    assert doc["generation"] == 8  # the SETTLED generation, not 7


def test_http_transient_503_is_retried(tmp_path):
    """CDNs throttle: a 503 on the first attempts must be retried with
    backoff, not surface as failure (and 404 must NOT be retried)."""
    (tmp_path / "f.txt").write_text("payload")
    fails = {"n": 2, "hits_404": 0}

    class _Flaky(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def do_GET(self):
            if self.path.endswith("f.txt") and fails["n"] > 0:
                fails["n"] -= 1
                self.send_error(503)
                return
            if self.path.endswith("missing.txt"):
                fails["hits_404"] += 1
            super().do_GET()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Flaky)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        fs = HttpFS()
        assert fs.read_text(f"{url}/f.txt") == "payload"
        assert fails["n"] == 0  # both 503s consumed by retries
        with pytest.raises(FileNotFoundError):
            fs.read_bytes(f"{url}/missing.txt")
        assert fails["hits_404"] == 1  # absent is NOT retried

        fails["n"] = 2
        assert HttpFS().read_bytes(f"{url}/f.txt") == b"payload"
        assert fails["n"] == 0
    finally:
        srv.shutdown()


def test_split_known_root_prefers_deepest_cached_root():
    """ADVICE fix: with nested collections (manifests cached at both
    /a and /a/b), a path under /a/b must resolve against /a/b's
    manifest regardless of cache insertion order — the shallow root
    would otherwise answer with wrong or empty listings."""
    outer = "http://h/a"
    inner = "http://h/a/b"
    for order in ((outer, inner), (inner, outer)):
        fs = HttpFS()
        for root in order:  # cache insertion order must not matter
            fs._manifests[root] = (None, {"files": {"p=0": ["x"]}})
        assert fs._split_known_root(f"{inner}/p=0") == (inner, "p=0")
        assert fs._split_known_root(f"{outer}/p=0") == (outer, "p=0")
        # a path under outer-but-not-inner still resolves to outer
        assert fs._split_known_root(f"{outer}/q=1") == (outer, "q=1")


def test_http_range_past_eof_is_corruption_not_absent(tmp_path):
    """ADVICE fix: a 416 on a shard read_at means the object EXISTS
    but is shorter than the shard index claims — truncation must raise
    a corruption StoreError, not FileNotFoundError('missing')."""
    (tmp_path / "shard.bin").write_bytes(b"0123456789")

    class _Ranged(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(tmp_path), **kw)

        def do_GET(self):
            rng = self.headers.get("Range")
            if rng and rng.startswith("bytes=") and "-" in rng:
                start = rng[len("bytes="):].split("-")[0]
                if start and int(start) >= 10:  # past EOF
                    self.send_error(416)
                    return
            super().do_GET()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Ranged)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        blobs = HttpFS()
        with pytest.raises(StoreError, match="truncated/corrupt"):
            blobs.read_at(f"{url}/shard.bin", 100, 8)
        # r8 ADVICE: a range STARTING in-bounds but ending past EOF
        # comes back 206 with a clamped short body — same corruption
        # class, must raise instead of returning fewer than nbytes
        with pytest.raises(StoreError, match="truncated/corrupt"):
            blobs.read_at(f"{url}/shard.bin", 5, 8)
        # a genuinely missing object is still FileNotFoundError
        with pytest.raises(FileNotFoundError):
            blobs.read_at(f"{url}/gone.bin", 0, 4)
    finally:
        srv.shutdown()
