"""End-to-end tests for the az:// (Azure Blob) store backend.

The reference speaks az:// via obstore
(``/root/reference/zcollection/store/obstore_store.py:27``,
``store/factory.py:22-79``); :class:`AzureBlobFS` speaks the public Blob
REST API directly (SharedKey signing, no SDK).  The emulator
(``azurite_mini.py``) VERIFIES every request signature with an
independent implementation of the documented canonicalization, so the
auth crypto is exercised, not just the semantics.

Covers the same contract surface the s3 suite covers on moto: raw store
contract (write/read/list/rename/CAS), collection create → insert →
query → replacement insert → mirror invalidation, and routing.
"""

import json
import os
import uuid

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.errors import CommitConflictError
from zcollection_spark.fs import AzureBlobFS, fs_for

from tests.azurite_mini import ACCOUNT, KEY_B64, start_server


@pytest.fixture(scope="session")
def az_server():
    """One emulator for the session; env configured like a real
    deployment (account + key + endpoint override).  Yields
    ``(server, endpoint)`` — ``server.state`` mints bearer tokens."""
    srv, endpoint = start_server()
    old = {k: os.environ.get(k) for k in
           ("AZURE_STORAGE_ACCOUNT", "AZURE_STORAGE_KEY",
            "AZURE_BLOB_ENDPOINT")}
    os.environ["AZURE_STORAGE_ACCOUNT"] = ACCOUNT
    os.environ["AZURE_STORAGE_KEY"] = KEY_B64
    os.environ["AZURE_BLOB_ENDPOINT"] = endpoint
    yield srv, endpoint
    for key, val in old.items():
        if val is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = val
    srv.shutdown()


@pytest.fixture(scope="session")
def az_endpoint(az_server):
    return az_server[1]


@pytest.fixture()
def az_root(az_endpoint):
    """A fresh container per test; returns its az:// root."""
    return f"az://zc-{uuid.uuid4().hex[:12]}/store"


def _seq_df(spark, schema, nums, value):
    bound = schema.with_partition_axis("num")
    pdf = pd.DataFrame({
        "num": np.array(nums, dtype=np.int64),
        "value": [[value] * 3] * len(nums),
        "static": [[10.0, 20.0, 30.0]] * len(nums)})
    return spark.createDataFrame(pdf, schema=bound.to_struct_type())


def test_azfs_contract(az_root):
    fs = AzureBlobFS()
    assert fs.supports_atomic_rename(az_root) is False

    fs.write_text(f"{az_root}/a/b/file.txt", "payload")
    assert fs.exists(f"{az_root}/a/b/file.txt")
    assert fs.exists(f"{az_root}/a/b")       # prefix counts as a dir
    assert fs.exists(f"{az_root}/a")
    assert not fs.exists(f"{az_root}/a/bx")  # no partial-name match
    assert fs.read_text(f"{az_root}/a/b/file.txt") == "payload"
    with pytest.raises(FileNotFoundError):
        fs.read_text(f"{az_root}/a/b/missing.txt")

    fs.write_text(f"{az_root}/a/b/two.txt", "2")
    fs.write_text(f"{az_root}/a/c.txt", "3")
    assert fs.list_files(f"{az_root}/a/b") == ["file.txt", "two.txt"]
    assert fs.list_files(f"{az_root}/a") == ["c.txt"]
    assert fs.list_dirs(f"{az_root}/a") == ["b"]

    # rename = copy+delete; refuses occupied destinations
    assert fs.rename(f"{az_root}/a/c.txt", f"{az_root}/a/d.txt")
    assert not fs.exists(f"{az_root}/a/c.txt")
    assert fs.read_text(f"{az_root}/a/d.txt") == "3"
    fs.write_text(f"{az_root}/a/e.txt", "occupied")
    assert fs.rename(f"{az_root}/a/d.txt", f"{az_root}/a/e.txt") is False
    # directory (prefix) rename moves every object
    assert fs.rename(f"{az_root}/a/b", f"{az_root}/a/b2")
    assert fs.list_files(f"{az_root}/a/b2") == ["file.txt", "two.txt"]
    assert fs.list_files(f"{az_root}/a/b") == []

    # recursive delete of a prefix fiction
    fs.delete(f"{az_root}/a")
    assert fs.list_files(f"{az_root}/a") == []
    assert not fs.exists(f"{az_root}/a")


def test_azfs_keys_needing_percent_encoding(az_root):
    """Regression (r7 ADVICE high): real Azure signs the percent-ENCODED
    URI path as sent; signing the decoded key 403s on any blob whose key
    contains '='/space/unicode — i.e. every hive partition path like
    ``num=1`` that collection inserts write.  The emulator now verifies
    against the raw encoded request path, so this test fails exactly the
    way real Azure would on a canonicalization bug."""
    fs = AzureBlobFS()
    keys = ["part/num=1/chunk.bin", "with space/f=2.txt",
            "uni-δ/τ=3.json"]
    for i, key in enumerate(keys):
        fs.write_text(f"{az_root}/{key}", f"v{i}")
    for i, key in enumerate(keys):
        assert fs.read_text(f"{az_root}/{key}") == f"v{i}"
    assert fs.list_dirs(f"{az_root}/part") == ["num=1"]
    # rename across an encoded prefix goes copy+sign+delete per object
    assert fs.rename(f"{az_root}/part", f"{az_root}/part2")
    assert fs.read_text(f"{az_root}/part2/num=1/chunk.bin") == "v0"


def test_azfs_move_file_missing_source_returns_false(az_root):
    fs = AzureBlobFS()
    assert fs.move_file(f"{az_root}/nope.txt",
                        f"{az_root}/dst.txt") is False


def test_azfs_move_delete_failure_raises(az_root, monkeypatch):
    """r8 ADVICE: a post-copy DELETE that fails (after retries) must
    raise, not silently leave BOTH src and dst as duplicate data."""
    from zcollection_spark.errors import StoreError
    fs = AzureBlobFS()
    fs.write_text(f"{az_root}/src.txt", "x")
    real = AzureBlobFS._request

    def flaky(self, method, container, key, *a, **kw):
        if method == "DELETE":
            return 503, {}, b""
        return real(self, method, container, key, *a, **kw)

    monkeypatch.setattr(AzureBlobFS, "_request", flaky)
    with pytest.raises(StoreError, match="source blob survives"):
        fs.move_file(f"{az_root}/src.txt", f"{az_root}/dst.txt")


def test_az_blobs_midrange_truncation_raises(az_root):
    """r8 ADVICE: a shard truncated MID-range comes back 206 with a
    clamped short body (the emulator clamps like real Azure); read_at
    must raise the truncation StoreError, not silently return fewer
    than nbytes."""
    from zcollection_spark.errors import StoreError
    fs = AzureBlobFS()
    fs.write_bytes(f"{az_root}/shard.bin", b"0123456789")
    blobs = AzureBlobFS()
    assert blobs.read_at(f"{az_root}/shard.bin", 2, 4) == b"2345"
    with pytest.raises(StoreError, match="truncated/corrupt"):
        blobs.read_at(f"{az_root}/shard.bin", 5, 8)   # 206, clamped
    with pytest.raises(StoreError, match="truncated/corrupt"):
        blobs.read_at(f"{az_root}/shard.bin", 100, 8)  # 416, past EOF


def _mint_sas(container, permissions="racwdl",
              expiry="2099-01-01T00:00:00Z"):
    return AzureBlobFS.generate_container_sas(
        ACCOUNT, KEY_B64, container,
        permissions=permissions, expiry=expiry)


def _sas_fs(az_root, **kw):
    container = az_root.split("://", 1)[1].split("/", 1)[0]
    return AzureBlobFS(sas_token=_mint_sas(container, **kw))


def test_az_sas_contract(az_endpoint, az_root):
    """The SharedKey contract surface under SAS query-parameter auth:
    write/read/list/rename(copy+delete)/delete — the emulator verifies
    every SAS signature + permission letter independently."""
    container = az_root.split("://", 1)[1].split("/", 1)[0]
    fs = AzureBlobFS(sas_token=_mint_sas(container))
    fs.write_text(f"{az_root}/p/num=1/a.txt", "payload")
    assert fs.read_text(f"{az_root}/p/num=1/a.txt") == "payload"
    fs.write_text(f"{az_root}/p/num=1/b.txt", "2")
    assert fs.list_files(f"{az_root}/p/num=1") == ["a.txt", "b.txt"]
    assert fs.rename(f"{az_root}/p", f"{az_root}/q")
    assert fs.read_text(f"{az_root}/q/num=1/a.txt") == "payload"
    fs.delete(f"{az_root}/q")
    assert not fs.exists(f"{az_root}/q")


def test_az_sas_cas_conditional_put(az_endpoint, az_root):
    """CAS works identically under SAS (If-Match rides the headers,
    auth rides the query string)."""
    fs = _sas_fs(az_root)
    path = f"{az_root}/state.json"
    tok1 = fs.write_if(path, "v1", None)
    assert tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(path, "v1b", None)     # create-only, exists
    tok2 = fs.write_if(path, "v2", tok1)
    assert tok2 and tok2 != tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(path, "v3", tok1)      # stale token
    text, tok = fs.read_versioned(path)
    assert text == "v2" and tok == tok2


def test_az_sas_bad_or_expired_rejected(az_endpoint, az_root):
    """Forged signature, expired token, and missing permission all come
    back 403 from the verifying emulator."""
    from zcollection_spark.errors import StoreError
    container = az_root.split("://", 1)[1].split("/", 1)[0]
    good = _mint_sas(container)
    forged = good.replace("sig=", "sig=AAAA")
    fs_bad = AzureBlobFS(sas_token=forged)
    with pytest.raises(StoreError):
        fs_bad.write_text(f"{az_root}/x.txt", "nope")

    expired = _mint_sas(container, expiry="2020-01-01T00:00:00Z")
    fs_exp = AzureBlobFS(sas_token=expired)
    with pytest.raises(StoreError):
        fs_exp.write_text(f"{az_root}/x.txt", "nope")

    # read-only grant: reads fine, writes 403
    _sas_fs(az_root).write_text(f"{az_root}/ro.txt", "v")
    fs_ro = _sas_fs(az_root, permissions="rl")
    assert fs_ro.read_text(f"{az_root}/ro.txt") == "v"
    assert fs_ro.list_files(az_root) == ["ro.txt"]
    with pytest.raises(StoreError):
        fs_ro.write_text(f"{az_root}/new.txt", "nope")


def test_az_sas_collection_roundtrip(spark, seq_schema, az_root,
                                     monkeypatch):
    """A collection written and read entirely under a SAS grant — the
    env route (fs_for) picks the native backend from account+SAS with
    no account key present."""
    container = az_root.split("://", 1)[1].split("/", 1)[0]
    monkeypatch.delenv("AZURE_STORAGE_KEY", raising=False)
    monkeypatch.setenv("AZURE_STORAGE_SAS_TOKEN", _mint_sas(container))
    from zcollection_spark.fs import fs_for
    assert isinstance(fs_for(az_root), AzureBlobFS)
    coll = zc.create_collection(
        spark, f"{az_root}/coll", schema=seq_schema, axis="num",
        partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [1, 2, 3], 1.0))
    got = coll.query(filters="num in (1, 3)")
    assert sorted(r["num"] for r in got.select("num").collect()) == [1, 3]


def test_azfs_conditional_put_cas(az_root):
    """write_if is a true server-side CAS: create-only refuses an
    existing blob; stale-ETag updates lose with CommitConflictError."""
    fs = AzureBlobFS()
    path = f"{az_root}/_catalog/state.json"
    tok1 = fs.write_if(path, json.dumps({"generation": 1}), None)
    assert tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(path, "{}", None)          # create-only, exists
    tok2 = fs.write_if(path, json.dumps({"generation": 2}), tok1)
    assert tok2 and tok2 != tok1
    with pytest.raises(CommitConflictError):
        fs.write_if(path, "{}", tok1)          # stale token
    text, tok = fs.read_versioned(path)
    assert json.loads(text) == {"generation": 2}
    assert tok == tok2


def test_azfs_bad_key_is_auth_error(az_endpoint, az_root):
    """The emulator independently verifies SharedKey signatures: a
    wrong key must surface as a clear store error, not absence."""
    import base64
    from zcollection_spark.errors import StoreError
    bad = AzureBlobFS(ACCOUNT,
                      base64.b64encode(b"wrong-key").decode(),
                      az_endpoint)
    with pytest.raises(StoreError, match="403"):
        bad.write_text(f"{az_root}/x.txt", "nope")


def test_az_scheme_routes_to_azureblobfs(az_endpoint):
    assert isinstance(fs_for("az://cont/coll"), AzureBlobFS)


def test_az_without_creds_falls_to_hadoop(monkeypatch):
    monkeypatch.delenv("AZURE_STORAGE_ACCOUNT", raising=False)
    monkeypatch.delenv("AZURE_STORAGE_KEY", raising=False)
    # no SparkSession handle → the HadoopFS branch raises the
    # documented error instead of silently picking LocalFS
    with pytest.raises(ValueError, match="SparkSession"):
        fs_for("az://cont/coll")


def test_az_collection_roundtrip(spark, seq_schema, az_root):
    """create → insert → query → reopen → replacement insert, all on
    az:// through the scratch bridge (no JVM connector), with the
    manifest-driven file-granular publish path engaged."""
    path = f"{az_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, AzureBlobFS)
    coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    assert coll.query().count() == 4
    assert coll.query(filters="num >= 1").count() == 2

    reopened = zc.open_collection(spark, path, mode="rw")
    assert reopened.query().count() == 4

    # replacement insert must invalidate the ETag-validated mirror
    coll.insert(_seq_df(spark, seq_schema, [1], 9.0), merge="replace")
    rows = coll.query(filters="num == 1").collect()
    assert len(rows) == 1 and rows[0]["value"] == [9.0, 9.0, 9.0]
    assert coll.query().count() == 4


def test_az_publish_leaves_no_partial_state_on_crash(spark, seq_schema,
                                                     az_root):
    """The staging protocol's no-partial-state guarantee holds on
    az:// exactly as on s3://: a crash mid-publish (after k Copy Blob
    moves) is recoverable and queries converge to exactly the new
    generation, never a mix."""

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

        def move_file(self, src, dst):  # the publish hot path
            self._gate(src, dst)
            return self._inner.move_file(src, dst)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    for allowed in (0, 2):
        path = f"{az_root}/coll-{allowed}"
        coll = zc.create_collection(spark, path, schema=seq_schema,
                                    axis="num",
                                    partitioning=zc.Sequence(("num",)))
        coll.insert(_seq_df(spark, seq_schema, [0, 0, 1, 2], 1.0))

        real_fs = coll._fs
        coll._fs = CrashAfterMoves(real_fs, allowed)
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                coll.insert(_seq_df(spark, seq_schema,
                                    [0, 0, 1, 2], 9.0))
        finally:
            coll._fs = real_fs
        assert coll.repair_catalog() == ["num=0", "num=1", "num=2"]
        rows = coll.query().collect()
        assert len(rows) == 4, f"allowed={allowed}"
        assert all(r["value"] == [9.0, 9.0, 9.0] for r in rows)


# ---------------------------------------------------------------------------
# zarr v3 layout on az:// — executors write chunk/shard objects directly
# through fs.AzureBlobFS; shard partial reads are SIGNED HTTP
# Range requests (the Range header sits in the SharedKey string-to-sign)
# ---------------------------------------------------------------------------

def test_zarr_array_roundtrip_on_az(az_root):
    from zcollection_spark.zarr3 import core
    data = np.arange(1000, dtype=np.float64)
    path = f"{az_root}/arr"
    core.write_array(path, data, chunk_shape=(128,))
    np.testing.assert_array_equal(core.read_array(path), data)

    spath = f"{az_root}/sharded"
    core.write_array(spath, data, chunk_shape=(64,), shard_shape=(256,))
    np.testing.assert_array_equal(core.read_array(spath), data)
    sl = core.read_array_slice(spath, 100, 300)
    np.testing.assert_array_equal(sl, data[100:300])


def test_zarr_collection_roundtrip_on_az(spark, az_root):
    from zcollection_spark.fs import AzureBlobFS
    from zcollection_spark.zarr3.collection import (
        create_zarr_collection, open_zarr_collection)
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",))
              .build("num"))
    path = f"{az_root}/zcoll"
    coll = create_zarr_collection(spark, path, schema=schema,
                                  axis="num",
                                  partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, AzureBlobFS)
    pdf = pd.DataFrame({"num": np.array([0, 0, 1, 2], dtype=np.int64),
                        "v": [1.5, 2.5, 3.5, 4.5]})
    coll.insert(spark.createDataFrame(pdf,
                                      schema=schema.to_struct_type()))
    assert coll.partitions() == ["num=0", "num=1", "num=2"]
    assert sorted(r.v for r in coll.query().collect()) \
        == [1.5, 2.5, 3.5, 4.5]
    assert coll.query(filters="num >= 1").count() == 2

    # replacement generation swaps via the manifest publish
    pdf2 = pdf.assign(v=[7.0] * 4)
    coll.insert(spark.createDataFrame(pdf2,
                                      schema=schema.to_struct_type()))
    rows = coll.query().collect()
    assert len(rows) == 4 and all(r["v"] == 7.0 for r in rows)

    reopened = open_zarr_collection(spark, path)
    assert reopened.query().count() == 4


def test_az_transient_503_is_retried(az_endpoint, az_root, monkeypatch):
    """Azure throttles routinely: 429/500/503 must be retried with
    backoff, while 404/412/409 must NOT be (absent/conflict semantics
    would corrupt recovery if masked by retries)."""
    import urllib.error
    import urllib.request

    fs = AzureBlobFS()
    fs.write_text(f"{az_root}/r.txt", "payload")

    real_open = urllib.request.urlopen
    fails = {"n": 2, "total": 0}

    def flaky(req, *a, **kw):
        fails["total"] += 1
        if fails["n"] > 0:
            fails["n"] -= 1
            raise urllib.error.HTTPError(req.full_url, 503,
                                         "Service Unavailable", {}, None)
        return real_open(req, *a, **kw)

    monkeypatch.setattr(urllib.request, "urlopen", flaky)
    monkeypatch.setattr("time.sleep", lambda *_: None)
    assert fs.read_text(f"{az_root}/r.txt") == "payload"
    assert fails["n"] == 0          # both 503s consumed by retries

    # a 404 is answered immediately, never retried
    fails["total"] = 0
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"{az_root}/missing.txt")
    assert fails["total"] == 1


def test_az_publish_per_file_op_budget(spark, seq_schema, az_root):
    """Same op discipline as the s3 budget pin: ~1 Copy Blob per staged
    file on a fresh insert, bounded HEAD/LIST overhead — a wrapper
    reintroducing per-file exists round-trips must fail here too."""
    path = f"{az_root}/coll"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    fs = coll._fs
    fs.api_counts.clear()
    coll.insert(_seq_df(spark, seq_schema, [0, 1, 2], 1.0))
    counts = dict(fs.api_counts)
    # fresh insert, 3 partitions x 1 file + the one-time _immutable
    # publish: exactly one Copy Blob per moved file
    assert counts["copy"] == 4, counts
    assert counts.get("head", 0) <= 10 * 3, counts
    assert counts.get("list", 0) <= 10 * 3, counts


def test_az_sas_permission_letters_normalized(az_endpoint, az_root):
    """Out-of-order permission letters are canonicalized before signing
    (real Azure rejects non-canonical order); unknown letters raise."""
    container = az_root.split("://", 1)[1].split("/", 1)[0]
    tok = AzureBlobFS.generate_container_sas(
        ACCOUNT, KEY_B64, container, permissions="wlcar",  # scrambled
        expiry="2099-01-01T00:00:00Z")
    assert "sp=racwl" in tok
    fs = AzureBlobFS(sas_token=tok)
    fs.write_text(f"{az_root}/norm.txt", "v")
    assert fs.read_text(f"{az_root}/norm.txt") == "v"
    with pytest.raises(ValueError, match="unknown SAS permission"):
        AzureBlobFS.generate_container_sas(
            ACCOUNT, KEY_B64, container, permissions="rz",
            expiry="2099-01-01T00:00:00Z")


# ---------------------------------------------------------------------------
# bearer (AAD/MSI) auth — the last real-world Azure grant (r9)
# ---------------------------------------------------------------------------


def _bearer_fs(az_server, **kw):
    srv, _ = az_server
    from tests.azurite_mini import issue_token
    token = kw.pop("token", None) or issue_token(srv.state)
    return AzureBlobFS(bearer_token=token, **kw)


def test_az_bearer_contract(az_server, az_root):
    """The full store contract under Authorization: Bearer — the
    emulator accepts only live tokens it issued; Copy Blob carries
    x-ms-copy-source-authorization (the source URL has no auth)."""
    fs = _bearer_fs(az_server)
    fs.write_text(f"{az_root}/p/num=1/a.txt", "payload")
    assert fs.read_text(f"{az_root}/p/num=1/a.txt") == "payload"
    fs.write_text(f"{az_root}/p/num=1/b.txt", "2")
    assert fs.list_files(f"{az_root}/p/num=1") == ["a.txt", "b.txt"]
    assert fs.rename(f"{az_root}/p", f"{az_root}/q")  # copy+delete
    assert fs.read_text(f"{az_root}/q/num=1/a.txt") == "payload"
    # CAS works identically (If-Match rides headers, auth is a header)
    tok1 = fs.write_if(f"{az_root}/state.json", "v1", None)
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{az_root}/state.json", "v1b", None)
    assert fs.write_if(f"{az_root}/state.json", "v2", tok1) != tok1
    fs.delete(f"{az_root}/q")
    assert not fs.exists(f"{az_root}/q")


def test_az_bearer_expired_or_unknown_401(az_server, az_root):
    """An expired or never-issued token comes back 401 from the
    emulator and surfaces as a credentials StoreError (no silent
    retry storm) when no provider can refresh it."""
    from zcollection_spark.errors import StoreError
    from tests.azurite_mini import issue_token
    srv, _ = az_server
    expired = issue_token(srv.state, ttl=-10)
    fs = AzureBlobFS(bearer_token=expired)
    with pytest.raises(StoreError, match="401 under bearer"):
        fs.write_text(f"{az_root}/x.txt", "data")
    fs2 = AzureBlobFS(bearer_token="never-issued")
    with pytest.raises(StoreError, match="401 under bearer"):
        fs2.read_text(f"{az_root}/x.txt")


def test_az_bearer_provider_refreshes_on_401(az_server, az_root):
    """A provider-backed client survives mid-session expiry: the 401
    triggers exactly one refresh and the request succeeds with the new
    token."""
    from tests.azurite_mini import issue_token
    srv, _ = az_server
    calls = []

    def provider():
        import time
        # first token dies immediately; the refreshed one is live
        ttl = -5 if not calls else 3600
        token = issue_token(srv.state, ttl=ttl)
        calls.append(token)
        return token, time.time() + max(ttl, 0)

    fs = AzureBlobFS(token_provider=provider)
    fs.write_text(f"{az_root}/r.txt", "refreshed")
    assert fs.read_text(f"{az_root}/r.txt") == "refreshed"
    assert len(calls) == 2  # initial mint + exactly one 401 refresh


def test_az_msi_provider_against_imds_stub(az_server, az_root,
                                           monkeypatch):
    """msi_token_provider speaks the documented IMDS shape (Metadata
    header, access_token/expires_on JSON) — driven against the
    emulator's stub; fs_for routes to provider-backed AzureBlobFS when
    only AZURE_MSI_ENDPOINT is configured."""
    from zcollection_spark.fs import msi_token_provider
    import zcollection_spark.fs as fsmod
    srv, endpoint = az_server
    imds = endpoint.rsplit("/", 1)[0] + "/metadata/identity/oauth2/token"
    provider = msi_token_provider(endpoint=imds)
    token, expires = provider()
    assert token in srv.state.tokens and expires > 0
    fs = AzureBlobFS(token_provider=msi_token_provider(endpoint=imds))
    fs.write_text(f"{az_root}/m.txt", "via-msi")
    assert fs.read_text(f"{az_root}/m.txt") == "via-msi"
    # dispatch: MSI endpoint alone (no key/SAS/static bearer) routes
    # az:// to the native client with a provider attached
    monkeypatch.delenv("AZURE_STORAGE_KEY", raising=False)
    monkeypatch.delenv("AZURE_STORAGE_SAS_TOKEN", raising=False)
    monkeypatch.setenv("AZURE_MSI_ENDPOINT", imds)
    routed = fs_for(az_root)
    assert isinstance(routed, AzureBlobFS)
    assert routed._token_provider is not None
    routed.write_text(f"{az_root}/d.txt", "dispatched")
    assert routed.read_text(f"{az_root}/d.txt") == "dispatched"


@pytest.mark.parametrize("mode", ["bearer", "msi"])
def test_zarr_collection_on_az_under_aad(spark, az_server, az_root,
                                         monkeypatch, mode):
    """Zarr on az:// with no account key: executors get the driver's
    AAD grant through the shipped blob conf — the static bearer token,
    or the MSI endpoint from which each process mints its own — and
    build the same provider-backed client ``fs_for`` does."""
    from tests.azurite_mini import issue_token
    from zcollection_spark.fs import capture_blob_conf, task_fs
    from zcollection_spark.zarr3.collection import create_zarr_collection
    srv, endpoint = az_server
    monkeypatch.delenv("AZURE_STORAGE_KEY", raising=False)
    monkeypatch.delenv("AZURE_STORAGE_SAS_TOKEN", raising=False)
    if mode == "bearer":
        monkeypatch.setenv("AZURE_STORAGE_BEARER_TOKEN",
                           issue_token(srv.state))
    else:
        monkeypatch.setenv("AZURE_MSI_ENDPOINT",
                           endpoint.rsplit("/", 1)[0]
                           + "/metadata/identity/oauth2/token")
    conf = capture_blob_conf()
    client = task_fs(az_root, conf)
    assert (client._token_provider is not None) == (mode == "msi")

    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",))
              .build("num"))
    coll = create_zarr_collection(spark, f"{az_root}/zaad", schema=schema,
                                  axis="num",
                                  partitioning=zc.Sequence(("num",)))
    assert isinstance(coll._fs, AzureBlobFS)
    pdf = pd.DataFrame({"num": np.array([0, 0, 1], dtype=np.int64),
                        "v": [1.5, 2.5, 3.5]})
    coll.insert(spark.createDataFrame(pdf,
                                      schema=schema.to_struct_type()))
    assert coll.partitions() == ["num=0", "num=1"]
    assert sorted(r.v for r in coll.query().collect()) == [1.5, 2.5, 3.5]


def test_az_bearer_401_refresh_survives_throttle_streak(monkeypatch):
    """A 401 landing on the LAST transient-retry attempt (after a 429
    streak) must still get its refreshed-token retry — the refresh is
    not charged against the throttle budget."""
    import io
    import urllib.error
    import urllib.request

    calls = []
    script = [429, 429, 429, 401, 200]

    def fake_urlopen(req, timeout=None):
        code = script[len(calls)]
        calls.append((code, req.headers.get("Authorization")))
        if code == 200:
            class R:
                status = 200
                headers = {}
                def read(self): return b"ok"
                def __enter__(self): return self
                def __exit__(self, *a): return False
            return R()
        raise urllib.error.HTTPError(req.full_url, code, "err",
                                     {}, io.BytesIO(b""))

    tokens = []

    def provider():
        tokens.append(f"tok{len(tokens)}")
        return tokens[-1], 10**12

    fs = AzureBlobFS(account="acct", token_provider=provider,
                     endpoint="http://example.invalid/acct")
    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    import time as _time
    monkeypatch.setattr(_time, "sleep", lambda s: None)
    status, hdrs, body = fs._request("GET", "c", "k")
    assert status == 200 and body == b"ok"
    assert [c for c, _ in calls] == [429, 429, 429, 401, 200]
    assert len(tokens) == 2  # initial mint + the post-401 refresh
    assert calls[-1][1] == "Bearer tok1"  # retried with the NEW token


def test_az_pinned_retention_is_server_side_copy(spark, seq_schema,
                                                 az_root):
    """Retention on az://: copy-on-republish runs as server-side Copy
    Blob (the emulator independently verifies each request signature)
    and the pinned generation reads bit-identical after the
    republish."""
    path = f"{az_root}/coll_pin"
    coll = zc.create_collection(spark, path, schema=seq_schema,
                                axis="num",
                                partitioning=zc.Sequence(("num",)))
    coll.insert(_seq_df(spark, seq_schema, [0, 1], 1.0))
    g = coll.generation()
    coll.pin_generation(g)
    before = sorted((r["num"], tuple(r["value"]))
                    for r in coll.query().collect())
    copies0 = coll._fs.api_counts["copy"]
    coll.insert(_seq_df(spark, seq_schema, [0], 9.0), merge="replace")
    assert coll._fs.api_counts["copy"] > copies0   # Copy Blob, no bytes
    assert sorted((r["num"], tuple(r["value"])) for r in
                  coll.query(at_generation=g).collect()) == before
    coll.unpin_generation(g)
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.query(at_generation=g)
