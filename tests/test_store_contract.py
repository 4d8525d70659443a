"""One store contract, three object stores.

:class:`S3FS` (moto), :class:`AzureBlobFS` (``azurite_mini``) and
:class:`GcsFS` (``gcs_mini``) share the store contract of
``fs._ObjectStoreFS``.  One fixed script runs against each and checks
both the answers and the per-backend ``api_counts`` of every step:
the op counts are the metadata-cost currency on object stores, so a
refactor of the shared code must not move them by a single call.

The same module holds the transport and routing checks that span
backends: bearer-mode Copy Blob authorization, the shared retry set
(429/500/502/503/504) and the zarr blob routing for ``gs://``/``az://``.
"""

import io
import json
import os
import urllib.error
import urllib.request
import uuid

import pytest

from zcollection_spark.errors import (CommitConflictError, ReadOnlyError,
                                      StoreError)
from zcollection_spark.fs import AzureBlobFS, GcsFS, HttpFS

from tests import azurite_mini, gcs_mini


@pytest.fixture(scope="module")
def az_emulator():
    srv, endpoint = azurite_mini.start_server()
    yield srv, endpoint
    srv.shutdown()


@pytest.fixture(scope="module")
def gcs_emulator():
    srv, endpoint = gcs_mini.start_server()
    yield srv, endpoint
    srv.shutdown()


@pytest.fixture(params=["s3", "az", "gcs"])
def store(request):
    """``(backend, fs, root)`` with a fresh bucket/container."""
    name = f"zc-{uuid.uuid4().hex[:12]}"
    if request.param == "s3":
        pytest.importorskip("boto3")
        pytest.importorskip("moto")
        from zcollection_spark.fs import S3FS
        root = request.getfixturevalue("s3_root")   # sets the env first
        return "s3", S3FS(), root
    if request.param == "az":
        _, endpoint = request.getfixturevalue("az_emulator")
        fs = AzureBlobFS(azurite_mini.ACCOUNT, azurite_mini.KEY_B64,
                         endpoint)
        return "az", fs, f"az://{name}/store"
    srv, endpoint = request.getfixturevalue("gcs_emulator")
    fs = GcsFS(endpoint, bearer_token=gcs_mini.issue_token(srv.state))
    return "gcs", fs, f"gs://{name}/store"


# Per-step op counts of each backend: the metadata-cost budget.  Change
# them only for a deliberate op-budget change.
_COMMON_OPS = {
    "write": {"put": 7},
    "list": {"list": 3},
    "walk": {"list": 1},
    "partitions": {"list": 1},
    "exists": {"head": 6, "list": 3},
    "read": {"get": 2},
    "read_at": {"get": 4},
    "cas": {"get": 3, "put": 4},
    "rename_prefix": {"copy": 1, "delete": 1, "head": 3, "list": 4},
    "delete": {"delete": 2, "head": 3, "list": 3},
    "localize": {"get": 4, "list": 1},
    "localize_again": {"list": 1},
    "remote_delete": {"delete": 1, "head": 1, "list": 1},
    "localize_purged": {"list": 1},
    "upload_tree": {"list": 1, "put": 1},
}
_EXPECTED_OPS = {
    # S3's move_file sends CopyObject with no HEAD (a missing source
    # answers 404); its copy_file HEADs once for the multipart size check
    "s3": {**_COMMON_OPS,
           "rename_file": {"copy": 1, "delete": 1, "head": 5, "list": 3},
           "missing_source": {"copy": 1, "head": 1},
           "copy_move": {"copy": 2, "delete": 1, "get": 1, "head": 2}},
    # az and gcs HEAD the source before every single-object copy
    "az": {**_COMMON_OPS,
           "rename_file": {"copy": 1, "delete": 1, "head": 6, "list": 3},
           "missing_source": {"head": 2},
           "copy_move": {"copy": 2, "delete": 1, "get": 1, "head": 3}},
}
_EXPECTED_OPS["gcs"] = _EXPECTED_OPS["az"]


def _run_script(fs, root, tmp_path) -> dict:
    """The fixed contract script; returns ``{step: api_counts}``."""
    ops: dict = {}
    fs.api_counts.clear()

    def step(name):
        ops[name] = {k: v for k, v in fs.api_counts.items() if v}
        fs.api_counts.clear()

    p = f"{root}/p"
    for rel in ("num=1/a.bin", "num=1/b.bin", "num=2/a.bin",
                "num=10/a.bin", "_meta/x.json", ".hidden/y", "top.txt"):
        fs.write_text(f"{p}/{rel}", rel)
    step("write")

    # delimiter boundary: num=1 must not capture num=10's keys
    assert fs.list_files(f"{p}/num=1") == ["a.bin", "b.bin"]
    assert fs.list_files(p) == ["top.txt"]
    assert fs.list_dirs(p) == [".hidden", "_meta", "num=1", "num=10",
                               "num=2"]
    step("list")

    assert fs.walk_files(p) == ["num=1/a.bin", "num=1/b.bin",
                                "num=10/a.bin", "num=2/a.bin", "top.txt"]
    step("walk")

    assert fs.list_partition_dirs(p, 1) == ["num=1", "num=10", "num=2"]
    step("partitions")

    assert fs.exists(f"{p}/num=1")            # prefix-only "directory"
    assert not fs.exists(f"{p}/num=3")
    assert not fs.exists(f"{p}/num")          # no partial-name match
    assert fs.exists_file(f"{p}/top.txt")
    assert not fs.exists_file(f"{p}/num=1")
    fs.mtime(f"{p}/top.txt")   # one HEAD (azurite_mini sends no date)
    step("exists")

    assert fs.read_text(f"{p}/top.txt") == "top.txt"
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"{p}/ghost")
    step("read")

    # a zarr inner-chunk read: one ranged GET each; an object that ends
    # inside the range (a short 206, or a 416 past its end) is
    # truncated, an absent one is missing
    assert fs.read_at(f"{p}/top.txt", 1, 3) == b"op."
    with pytest.raises(StoreError, match="top.txt is truncated/corrupt"):
        fs.read_at(f"{p}/top.txt", 5, 8)
    with pytest.raises(StoreError, match="top.txt is truncated/corrupt"):
        fs.read_at(f"{p}/top.txt", 100, 8)
    with pytest.raises(FileNotFoundError):
        fs.read_at(f"{p}/ghost", 0, 4)
    step("read_at")

    tok = fs.write_if(f"{root}/state.json", "v1", None)
    text, cur = fs.read_versioned(f"{root}/state.json")
    assert text == "v1" and cur == tok
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{root}/state.json", "v1b", None)
    tok2 = fs.write_if(f"{root}/state.json", "v2", tok)
    with pytest.raises(CommitConflictError):
        fs.write_if(f"{root}/state.json", "v3", tok)
    assert fs.read_versioned(f"{root}/state.json") == ("v2", tok2)
    assert fs.read_versioned(f"{root}/nothing.json") == (None, None)
    step("cas")

    assert fs.rename(f"{p}/num=2", f"{p}/num=3")       # prefix rename
    assert fs.list_files(f"{p}/num=3") == ["a.bin"]
    assert not fs.exists(f"{p}/num=2")
    step("rename_prefix")

    assert fs.rename(f"{p}/top.txt", f"{p}/top2.txt")  # one object
    assert not fs.rename(f"{p}/top2.txt", f"{p}/num=1/a.bin")  # occupied
    assert not fs.rename(f"{p}/ghost", f"{p}/ghost2")
    step("rename_file")

    assert fs.move_file(f"{p}/ghost", f"{p}/g2") is False
    assert fs.copy_file(f"{p}/ghost", f"{p}/g2") is False
    step("missing_source")

    assert fs.copy_file(f"{p}/top2.txt", f"{p}/top3.txt") is True
    assert fs.move_file(f"{p}/top3.txt", f"{p}/top4.txt") is True
    assert fs.read_text(f"{p}/top4.txt") == "top.txt"
    assert not fs.exists_file(f"{p}/top3.txt")
    step("copy_move")

    fs.delete(f"{p}/num=3")                            # prefix delete
    fs.delete(f"{p}/top4.txt")                         # one object
    assert not fs.exists(f"{p}/num=3")
    step("delete")

    mirror = fs.localize(p)
    assert sorted(os.listdir(mirror)) == ["num=1", "num=10", "top2.txt"]
    with open(os.path.join(mirror, "num=1", "b.bin")) as fh:
        assert fh.read() == "num=1/b.bin"
    step("localize")

    assert fs.localize(p) == mirror
    step("localize_again")

    fs.delete(f"{p}/num=1/b.bin")
    step("remote_delete")

    fs.localize(p)
    assert os.listdir(os.path.join(mirror, "num=1")) == ["a.bin"]
    step("localize_purged")

    local = tmp_path / "up"
    (local / "num=5").mkdir(parents=True)
    (local / "num=5" / "c.bin").write_bytes(b"c")
    (local / "_hidden").mkdir()
    (local / "_hidden" / "skip").write_bytes(b"s")
    assert fs.upload_tree(str(local), f"{root}/u") == ["num=5/c.bin"]
    assert not local.exists()
    assert fs.walk_files(f"{root}/u") == ["num=5/c.bin"]
    step("upload_tree")
    return ops


def test_store_contract_and_op_budget(store, tmp_path):
    backend, fs, root = store
    assert fs.supports_atomic_rename(root) is False
    assert fs.requires_localization is True
    assert _run_script(fs, root, tmp_path) == _EXPECTED_OPS[backend]


# ---------------------------------------------------------------------------
# Copy Blob under bearer auth (any container pair)
# ---------------------------------------------------------------------------

def test_staged_footers_read_through_the_store(store, spark, tmp_path):
    """Where the JVM writes a store natively (``requires_localization``
    off: hadoop-aws, hadoop-azure, gcs-connector), a parquet write's
    zone maps come from the staged files' tails read through the store:
    one LIST for the walk, then one ranged GET per file.  Spark-written
    files, uploaded, fold to the entries their local copies give and to
    ``collect_zone_stats`` over the same rows."""
    import zcollection_spark as zc
    from zcollection_spark.collection.stats import (collect_zone_stats,
                                                    footer_zone_stats,
                                                    staged_footers)
    _, fs, root = store
    df = spark.createDataFrame(
        [(i, None if i == 4 else float(i) - 3.5, i % 2) for i in range(9)],
        "i long, value double, num long")
    local = str(tmp_path / "jvm")
    (df.coalesce(1).write.option("maxRecordsPerFile", 2)
     .partitionBy("num").parquet(local))
    part = zc.Sequence(("num",))
    cols = ["i", "num", "value"]
    on_disk = footer_zone_stats(staged_footers(local, 1, fs), part, cols)
    staged = f"{root}/_staging/w"
    files = fs.upload_tree(local, staged)  # removes the local tree
    assert len(files) == 5  # two partitions, at most two rows a file

    first = f"{staged}/{files[0]}"
    assert fs.read_tail(first, 4) == b"PAR1"
    assert fs.read_tail(first, 1 << 20) == fs.read_bytes(first)
    with pytest.raises(FileNotFoundError):
        fs.read_tail(f"{staged}/num=0/missing.parquet", 8)

    fs.api_counts.clear()
    remote = staged_footers(staged, 1, fs)
    assert dict(fs.api_counts) == {"list": 1, "get": len(files)}
    got = footer_zone_stats(remote, part, cols)
    assert got == on_disk == collect_zone_stats(df, part, cols,
                                                ["num=0", "num=1"])
    assert got["num=0"]["value"] == [-3.5, 4.5, 1]


def test_az_bearer_cross_container_move_authorizes_and_checks_copy(
        az_emulator, monkeypatch):
    """Under AAD/MSI bearer auth the source URL carries no credential,
    so every Copy Blob — cross-container included — must send
    ``x-ms-copy-source-authorization``; and a ``pending`` copy must
    raise before the move deletes its source."""
    srv, endpoint = az_emulator
    fs = AzureBlobFS(azurite_mini.ACCOUNT, endpoint=endpoint,
                     bearer_token=azurite_mini.issue_token(srv.state))
    src = f"az://zc-{uuid.uuid4().hex[:12]}/a.txt"
    dst = f"az://zc-{uuid.uuid4().hex[:12]}/a.txt"
    fs.write_text(src, "x")
    real = AzureBlobFS._request
    copies = []

    def spy(self, method, container, key, params=None, headers=None,
            body=None):
        if "x-ms-copy-source" in (headers or {}):
            copies.append(dict(headers))
        return real(self, method, container, key, params, headers, body)

    monkeypatch.setattr(AzureBlobFS, "_request", spy)
    assert fs.move_file(src, dst) is True
    assert len(copies) == 1
    assert copies[0]["x-ms-copy-source-authorization"].startswith(
        "Bearer ")
    assert fs.read_text(dst) == "x" and not fs.exists_file(src)

    def pending(self, method, container, key, params=None, headers=None,
                body=None):
        status, hdrs, data = real(self, method, container, key, params,
                                  headers, body)
        if "x-ms-copy-source" in (headers or {}):
            hdrs = {**hdrs, "x-ms-copy-status": "pending"}
        return status, hdrs, data

    monkeypatch.setattr(AzureBlobFS, "_request", pending)
    with pytest.raises(StoreError, match="pending"):
        fs.move_file(dst, src)
    assert fs.exists_file(dst)      # the source survives a pending copy


# ---------------------------------------------------------------------------
# one retry set for every urllib client
# ---------------------------------------------------------------------------

def _scripted_urlopen(script, calls):
    """Fake ``urlopen`` answering each request with the next status of
    ``script``; 200 carries body ``ok``."""
    def urlopen(req, timeout=None):
        code = script[len(calls)]
        calls.append(code)
        if code == 200:
            class _Resp:
                status = 200
                headers = {"ETag": '"e1"'}

                def read(self):
                    return b"ok"

                def __enter__(self):
                    return self

                def __exit__(self, *a):
                    return False
            return _Resp()
        raise urllib.error.HTTPError(req.full_url, code, "err", {},
                                     io.BytesIO(b""))
    return urlopen


@pytest.mark.parametrize("backend,code", [
    ("az", 502), ("gcs", 504), ("http", 429), ("http_blobs", 429)])
def test_transient_statuses_are_retried_by_every_client(backend, code,
                                                        monkeypatch):
    """429/500/502/503/504 are transient for every urllib read
    (AzureBlobFS, GcsFS, HttpFS, and HttpFS's ranged reads that zarr
    shard reads use): each gets a retry, and the retry's answer is the
    result."""
    import time

    calls = []
    monkeypatch.setattr(urllib.request, "urlopen",
                        _scripted_urlopen([code, 200], calls))
    monkeypatch.setattr(time, "sleep", lambda s: None)
    url = "http://example.invalid/c/k"
    if backend == "az":
        fs = AzureBlobFS(account="acct", key=azurite_mini.KEY_B64,
                         endpoint="http://example.invalid/acct")
        assert fs.read_bytes("az://c/k") == b"ok"
    elif backend == "gcs":
        fs = GcsFS("http://example.invalid", bearer_token="tok")
        assert fs.read_bytes("gs://c/k") == b"ok"
    elif backend == "http":
        assert HttpFS().read_bytes(url) == b"ok"
    else:
        assert HttpFS().read_at(url, 0, 2) == b"ok"
    assert calls == [code, 200]


# ---------------------------------------------------------------------------
# zarr blob routing on gs:// / az://
# ---------------------------------------------------------------------------

_CRED_ENV = ("GCS_BEARER_TOKEN", "GCS_KEYFILE", "GCE_METADATA_ENDPOINT",
             "GCS_JSON_ENDPOINT", "GCS_ACCESS_KEY_ID",
             "GCS_SECRET_ACCESS_KEY", "AZURE_STORAGE_ACCOUNT",
             "AZURE_STORAGE_KEY", "AZURE_STORAGE_SAS_TOKEN",
             "AZURE_STORAGE_BEARER_TOKEN", "AZURE_MSI_ENDPOINT",
             "AZURE_BLOB_ENDPOINT")


def test_zarr_blobs_route_gs_keyfile_and_never_fall_back_local(
        gcs_emulator, tmp_path, monkeypatch):
    """With only ``GCS_KEYFILE`` set, ``fs_for`` commits the catalog to
    GCS, so the zarr chunks must go there too: the keyfile rides the
    shipped blob conf and routes to the GCS blob backend.  A gs:// or
    az:// path with no credentials raises instead of writing under a
    local ``./gs:/bucket/...`` directory."""
    from zcollection_spark.fs import (LocalFS, capture_blob_conf,
                                      gcs_keyfile_token_provider, task_fs)
    srv, endpoint = gcs_emulator
    for var in _CRED_ENV:
        monkeypatch.delenv(var, raising=False)
    keyfile = tmp_path / "sa.json"
    keyfile.write_text(json.dumps(
        gcs_mini.register_service_account(srv.state, endpoint)))
    monkeypatch.setenv("GCS_KEYFILE", str(keyfile))
    monkeypatch.setenv("GCS_JSON_ENDPOINT", endpoint)
    monkeypatch.chdir(tmp_path)

    conf = capture_blob_conf()
    assert conf["GCS_KEYFILE"] == str(keyfile)
    root = f"gs://zc-{uuid.uuid4().hex[:12]}/coll"
    store = task_fs(f"{root}/num=1", conf)
    assert not isinstance(store, LocalFS)
    store.write_bytes(f"{root}/num=1/c.0", b"0123456789")
    assert store.read_at(f"{root}/num=1/c.0", 2, 4) == b"2345"
    assert store.read_tail(f"{root}/num=1/c.0", 3) == b"789"
    with pytest.raises(FileNotFoundError):
        store.read_bytes(f"{root}/num=1/missing")
    fs = GcsFS(endpoint,
               token_provider=gcs_keyfile_token_provider(str(keyfile)))
    assert fs.read_bytes(f"{root}/num=1/c.0") == b"0123456789"
    assert not (tmp_path / "gs:").exists()

    monkeypatch.delenv("GCS_KEYFILE")
    for path in ("gs://bkt/coll/num=1", "az://c/coll/num=1"):
        with pytest.raises(StoreError, match="credentials"):
            task_fs(path, None)


def test_http_blobs_stay_read_only():
    with pytest.raises(ReadOnlyError):
        HttpFS().write_bytes("http://example.invalid/x", b"")


def test_task_clients_are_cached_per_credential():
    """Two env snapshots with one S3 endpoint and different access keys
    resolve to two clients; the same snapshot resolves to the same
    client."""
    pytest.importorskip("boto3")
    from zcollection_spark.fs import S3FS, task_fs
    base = {"AWS_ENDPOINT_URL": "http://127.0.0.1:9",
            "AWS_SECRET_ACCESS_KEY": "secret"}
    one = task_fs("s3://bkt/coll", {**base, "AWS_ACCESS_KEY_ID": "one"})
    two = task_fs("s3://bkt/coll", {**base, "AWS_ACCESS_KEY_ID": "two"})
    assert isinstance(one, S3FS) and isinstance(two, S3FS)
    assert one is not two
    assert task_fs("s3://bkt/x", {**base, "AWS_ACCESS_KEY_ID": "one"}) \
        is one


def test_blob_conf_carries_every_env_var_the_resolver_reads(monkeypatch):
    """Tasks resolve with the driver's snapshot laid over their own
    env, so the snapshot must hold every variable the resolver reads —
    else a task could route a path differently from the driver."""
    from zcollection_spark import fs as fsmod
    captured = set(fsmod._STORE_ENV + fsmod._AWS_ENV)

    class Recording(dict):
        def get(self, key, default=None):
            read.add(key)
            return super().get(key, default)

    read: set = set()
    for path, env in [
            ("s3://b/k", {"AWS_ENDPOINT_URL": "http://127.0.0.1:9",
                          "AWS_ACCESS_KEY_ID": "a",
                          "AWS_SECRET_ACCESS_KEY": "s"}),
            ("gs://b/k", {"GCS_ACCESS_KEY_ID": "a",
                          "GCS_SECRET_ACCESS_KEY": "s"}),
            ("gs://b/k", {"GCS_BEARER_TOKEN": "t"}),
            ("gs://b/k", {}),
            ("az://c/k", {"AZURE_STORAGE_ACCOUNT": "acct",
                          "AZURE_STORAGE_KEY": azurite_mini.KEY_B64}),
            ("az://c/k", {})]:
        fsmod.resolve_fs(path, Recording(env))
    assert read <= captured, read - captured
    for name in captured:
        monkeypatch.setenv(name, "x")
    assert set(fsmod.capture_blob_conf()) == captured
    monkeypatch.delenv("AWS_ENDPOINT_URL")
    # the AWS group rides only with a custom endpoint
    assert set(fsmod.capture_blob_conf()) == set(fsmod._STORE_ENV)


def test_auto_named_scratch_roots_are_removed_at_exit(tmp_path):
    """An object-store or HTTP client's own scratch root is removed when
    the process exits; a ``scratch_dir`` the caller gave is kept."""
    import subprocess
    import sys
    from pathlib import Path
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    given = tmp_path / "given"
    code = (
        "import os\n"
        "from zcollection_spark.fs import GcsFS, HttpFS\n"
        "print(GcsFS('http://127.0.0.1:9', bearer_token='t')"
        ".new_scratch_dir())\n"
        "http = HttpFS()\n"
        "os.makedirs(http._scratch_root)\n"
        "print(http._scratch_root)\n"
        "print(GcsFS('http://127.0.0.1:9', bearer_token='t', "
        f"scratch_dir={str(given)!r}).new_scratch_dir())\n")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=Path(__file__).parent.parent,
        env={**os.environ, "TMPDIR": str(tmp)}, capture_output=True,
        text=True, check=True).stdout.split()
    auto, http_root, kept = out
    auto_root = os.path.dirname(os.path.dirname(auto))
    assert os.path.basename(auto_root).startswith("zcgs-")
    assert os.path.basename(http_root).startswith("zchttp-")
    assert os.path.dirname(auto_root) == os.path.dirname(http_root) \
        == str(tmp)
    assert os.listdir(tmp) == []
    assert os.path.isdir(kept) and kept.startswith(str(given))
