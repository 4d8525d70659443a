"""Thin filesystem layer for collection metadata I/O.

Spark itself handles bulk data I/O through Hadoop FileSystems (so ``s3a://``,
``gs://``, ``abfs://`` work wherever the cluster is configured for them); this
module only covers the *small-file* metadata operations the engine needs
driver-side: ``_zcollection.json``, ``_catalog/state.json``, ``_immutable``
markers and partition-directory walks.  It plays the role of the reference's
``Store`` ABC (``/root/reference/zcollection/store/base.py:42-94``) with two
implementations:

- :class:`LocalFS` — plain ``pathlib`` for ``file://`` / bare paths, with the
  reference's atomic tmp+rename write (``store/local.py:66-74``).
- :class:`HadoopFS` — py4j bridge to ``org.apache.hadoop.fs.FileSystem`` for
  any scheme the Spark runtime supports (object stores); the path-walk and
  read/write primitives go through the JVM so no extra Python deps are needed.
- :class:`_ObjectStoreFS` — the object-store contract written once over
  per-backend primitives: :class:`S3FS` (boto3), :class:`AzureBlobFS` and
  :class:`GcsFS` (REST over the retrying :func:`http_request` transport).

The same clients serve the zarr layout's chunk I/O inside Spark tasks
(``read_at``/``read_tail`` are the shard partial reads): one credential
resolver, :func:`resolve_fs`, picks the client for the driver
(:func:`fs_for`) and for the tasks (:func:`task_fs`).

Atomicity note: on object stores a single PUT is atomic, which is all the
catalog swap protocol requires (see ``catalog.py``).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import threading
import uuid
from collections import ChainMap
from pathlib import Path

from pyspark.sql import SparkSession

from .errors import CommitConflictError, ReadOnlyError, StoreError

#: Schemes where a Hadoop FileSystem ``rename`` is a non-atomic
#: copy+delete per object.  The staging protocol's swap publish assumes
#: atomic rename; on these stores the commit primitive must be the
#: catalog/manifest PUT instead (see staging.py design note).
_NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "az", "wasb", "abfs",
     "abfss"})


def scheme_of(path: str) -> str:
    return path.split("://", 1)[0] if "://" in path else "file"


def _auto_scratch(scratch_dir: "str | None", tag: str) -> str:
    """``scratch_dir``, or a fresh ``{tmp}/{tag}-xxxxxxxx`` that is
    removed at interpreter exit.  A directory the caller gave is never
    removed."""
    if scratch_dir:
        return scratch_dir
    root = os.path.join(tempfile.gettempdir(),
                        f"{tag}-{uuid.uuid4().hex[:8]}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _range_header(offset: "int | None", nbytes: int) -> str:
    """``Range`` of bytes ``[offset, offset + nbytes)``, or of the last
    ``nbytes`` when ``offset`` is None."""
    if offset is None:
        return f"bytes=-{nbytes}"
    return f"bytes={offset}-{offset + nbytes - 1}"


def _range_body(status: int, body: bytes, offset: "int | None",
                nbytes: int) -> bytes:
    """The bytes a ranged GET asked for: a 206 body as sent; a 200 from
    a server that ignores ``Range`` (the whole object) sliced here; a
    416 (nothing in range) empty."""
    if status == 416:
        return b""
    if status == 206:
        return body
    return body[-nbytes:] if offset is None else body[offset:offset + nbytes]


def _checked_range(path: str, offset: int, nbytes: int,
                   got: "bytes | None") -> bytes:
    """``read_at``'s one rule on every store: an absent object is
    :class:`FileNotFoundError`; fewer than ``nbytes`` bytes (a 416 or a
    short 206 on object stores, a short read on disk) means the object
    exists but ends inside the range, which is truncation."""
    if got is None:
        raise FileNotFoundError(path)
    if len(got) < nbytes:
        raise StoreError(
            f"{path} is truncated/corrupt: ranged read at {offset} "
            f"returned {len(got)} of {nbytes} bytes")
    return got


def _content_token(data: str) -> str:
    """Version token for stores without native conditional writes: a
    content hash.  Comparing tokens under the store's mutual-exclusion
    primitive (lock file / in-process lock) gives the same
    compare-and-swap semantics an S3 ``If-Match`` ETag provides
    natively."""
    import hashlib
    return hashlib.sha256(data.encode("utf-8")).hexdigest()


#: Crash-left CAS lock files older than this are broken by the next
#: writer (the lock only guards a sub-millisecond read-compare-replace).
_LOCK_TTL_S = 10.0


class _FileLock:
    """``O_CREAT|O_EXCL`` lock file — the mutual-exclusion primitive for
    conditional writes on filesystems without native compare-and-swap.
    Exclusive create is atomic on POSIX and on HDFS (``create`` with
    ``overwrite=false``), which is exactly the property needed."""

    def __init__(self, path: str):
        self._path = f"{path}.__cas_lock__"

    def __enter__(self):
        import time
        deadline = time.monotonic() + _LOCK_TTL_S
        while True:
            try:
                fd = os.open(self._path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    age = time.time() - os.stat(self._path).st_mtime
                    if age > _LOCK_TTL_S:
                        # Break the stale lock by RENAME to a unique
                        # sidecar, not unlink: two waiters that both saw
                        # it stale race the rename, exactly one wins,
                        # and the loser cannot delete a FRESH lock a
                        # faster waiter already re-created (the lost-
                        # update hole a blind unlink opens).
                        debris = f"{self._path}.broken.{uuid.uuid4().hex}"
                        try:
                            os.rename(self._path, debris)
                            os.unlink(debris)
                        except OSError:
                            pass  # another waiter won the break race
                        continue
                except OSError:
                    pass  # holder released between create and stat
                if time.monotonic() > deadline:
                    raise CommitConflictError(
                        f"CAS lock {self._path} held past TTL") from None
                time.sleep(0.005)

    def __exit__(self, *exc):
        try:
            os.unlink(self._path)
        except OSError:
            pass


class LocalFS:
    """Metadata I/O on the local filesystem."""

    def supports_atomic_rename(self, path: str) -> bool:
        return True

    def exists(self, path: str) -> bool:
        return Path(path).exists()

    def exists_file(self, path: str) -> bool:
        return Path(path).is_file()

    def mtime(self, path: str) -> "float | None":
        """Last-modified epoch seconds, or None when unknown/absent —
        maintenance sweeps use it as a write-in-flight grace signal."""
        try:
            return Path(path).stat().st_mtime
        except OSError:
            return None

    def read_text(self, path: str) -> str:
        return Path(path).read_text()

    def read_bytes(self, path: str) -> bytes:
        return Path(path).read_bytes()

    def read_tail(self, path: str, nbytes: int) -> bytes:
        """The last ``nbytes`` of a file (all of a shorter one) — a
        parquet footer without the file."""
        with open(path, "rb") as fh:
            fh.seek(max(fh.seek(0, os.SEEK_END) - nbytes, 0))
            return fh.read()

    def read_at(self, path: str, offset: int, nbytes: int) -> bytes:
        """Bytes ``[offset, offset + nbytes)`` of a file — a chunk of a
        zarr shard; a file that ends inside the range raises
        :class:`StoreError`."""
        with open(path, "rb") as fh:
            fh.seek(offset)
            return _checked_range(path, offset, nbytes, fh.read(nbytes))

    def write_text(self, path: str, data: str) -> None:
        target = Path(path)
        target.parent.mkdir(parents=True, exist_ok=True)
        tmp = target.parent / f".{target.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_text(data)
        os.replace(tmp, target)  # atomic on POSIX

    def write_bytes(self, path: str, data: bytes) -> None:
        target = Path(path)
        target.parent.mkdir(parents=True, exist_ok=True)
        tmp = target.parent / f".{target.name}.{uuid.uuid4().hex}.tmp"
        tmp.write_bytes(data)
        os.replace(tmp, target)

    def read_versioned(self, path: str) -> tuple[str | None, str | None]:
        """``(text, token)`` — ``(None, None)`` if the file is absent.
        The token names the version read; ``write_if`` with it succeeds
        only if the file is still that version (compare-and-swap)."""
        try:
            data = Path(path).read_text()
        except (FileNotFoundError, IsADirectoryError):
            return None, None
        return data, _content_token(data)

    def write_if(self, path: str, data: str,
                 token: str | None) -> str:
        """Conditional atomic write: ``token=None`` → create-only (fail
        if the file exists); else the file must still be the version the
        token names.  Raises :class:`CommitConflictError` if another
        writer got there first — the caller re-reads and retries.
        Returns the token of the JUST-WRITTEN version (computed inside
        the critical section — a caller that re-read instead could
        adopt a usurper's token after a racing takeover)."""
        target = Path(path)
        target.parent.mkdir(parents=True, exist_ok=True)
        with _FileLock(path):
            current, cur_token = self.read_versioned(path)
            if (token is None and current is not None) or \
                    (token is not None and cur_token != token):
                raise CommitConflictError(
                    f"{path}: version changed under a conditional write")
            tmp = target.parent / f".{target.name}.{uuid.uuid4().hex}.tmp"
            tmp.write_text(data)
            os.replace(tmp, target)
            return _content_token(data)

    def delete(self, path: str) -> None:
        target = Path(path)
        if target.is_dir():
            shutil.rmtree(target, ignore_errors=True)
        elif target.exists():
            target.unlink()

    def mkdirs(self, path: str) -> None:
        Path(path).mkdir(parents=True, exist_ok=True)

    def rename(self, src: str, dst: str) -> bool:
        """Atomic move; False if the destination already exists."""
        try:
            os.rename(src, dst)
            return True
        except OSError:
            return False

    def copy_file(self, src: str, dst: str) -> bool:
        """Non-destructive single-file copy (retention copies use this
        so bytes never round-trip through Python objects); False ONLY
        for a missing source.  Tmp+replace keeps the visible dst
        all-or-nothing, matching write_bytes."""
        target = Path(dst)
        if not Path(src).is_file():
            return False
        target.parent.mkdir(parents=True, exist_ok=True)
        tmp = target.parent / f".{target.name}.{uuid.uuid4().hex}.tmp"
        shutil.copyfile(src, tmp)
        os.replace(tmp, target)
        return True

    def list_files(self, path: str) -> list[str]:
        """Names of the plain files directly under ``path`` (sorted)."""
        target = Path(path)
        if not target.is_dir():
            return []
        return sorted(p.name for p in target.iterdir() if p.is_file())

    def list_dirs(self, path: str) -> list[str]:
        """Names of the directories directly under ``path`` (sorted)."""
        target = Path(path)
        if not target.is_dir():
            return []
        return sorted(p.name for p in target.iterdir() if p.is_dir())

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        """Relative ``key=value/.../key=value`` dirs exactly ``depth`` deep.

        Mirrors the reference's depth-limited sorted store walk
        (``/root/reference/zcollection/collection/base.py:340-386``); hidden
        (``_``/``.``-prefixed) entries are skipped, matching Spark's own
        partition-discovery convention.
        """
        results: list[str] = []

        def walk(cur: Path, level: int, rel: str) -> None:
            if level == depth:
                results.append(rel)
                return
            if not cur.is_dir():
                return
            for child in sorted(cur.iterdir()):
                name = child.name
                if not child.is_dir() or name.startswith(("_", ".")):
                    continue
                if "=" not in name:
                    continue
                walk(child, level + 1, f"{rel}/{name}" if rel else name)

        walk(Path(root), 0, "")
        return results


class MemoryFS:
    """In-memory metadata store (reference ``store/memory.py:16``).

    A process-local namespace for tests and ephemeral catalogs: files
    are dict entries, renames are dict moves (atomic under the lock).
    It carries METADATA ONLY — Spark executors run in separate
    processes, so bulk partition data (parquet/zarr written by jobs)
    cannot land here; collection fixtures use it for the config/
    catalog/staging protocol surface, mirroring the reference's
    memory × local fixture matrix at the layer where it is honest.
    """

    def __init__(self):
        self._files: dict[str, str] = {}
        self._dirs: set[str] = set()
        self._mtimes: dict[str, float] = {}
        self._lock = threading.RLock()

    @staticmethod
    def _norm(path: str) -> str:
        if path.startswith("memory://"):
            path = path[len("memory://"):]
        return path.rstrip("/")

    def supports_atomic_rename(self, path: str) -> bool:
        return True

    def exists(self, path: str) -> bool:
        p = self._norm(path)
        with self._lock:
            if p in self._files or p in self._dirs:
                return True
            prefix = p + "/"
            return any(k.startswith(prefix)
                       for k in (*self._files, *self._dirs))

    def exists_file(self, path: str) -> bool:
        with self._lock:
            return self._norm(path) in self._files

    def read_text(self, path: str) -> str:
        p = self._norm(path)
        with self._lock:
            if p not in self._files:
                raise FileNotFoundError(path)
            return self._files[p]

    # latin-1 is a lossless byte<->str bijection: generic byte copies
    # (catalog retention) work even though entries are stored as str
    def read_bytes(self, path: str) -> bytes:
        return self.read_text(path).encode("latin-1")

    def write_bytes(self, path: str, data: bytes) -> None:
        self.write_text(path, data.decode("latin-1"))

    def copy_file(self, src: str, dst: str) -> bool:
        """Non-destructive copy; False ONLY for a missing source."""
        s, d = self._norm(src), self._norm(dst)
        with self._lock:
            if s not in self._files:
                return False
            self._files[d] = self._files[s]
        return True

    def write_text(self, path: str, data: str) -> None:
        p = self._norm(path)
        with self._lock:
            parent = p.rsplit("/", 1)[0] if "/" in p else ""
            if parent:
                self._dirs.add(parent)
            self._files[p] = data  # dict assignment: atomic PUT
            import time
            self._mtimes[p] = time.time()

    def mtime(self, path: str) -> "float | None":
        with self._lock:
            return self._mtimes.get(self._norm(path))

    def read_versioned(self, path: str) -> tuple[str | None, str | None]:
        p = self._norm(path)
        with self._lock:
            if p not in self._files:
                return None, None
            data = self._files[p]
            return data, _content_token(data)

    def write_if(self, path: str, data: str,
                 token: str | None) -> str:
        p = self._norm(path)
        with self._lock:  # the store's own lock IS the CAS atomicity
            current = self._files.get(p)
            cur_token = None if current is None else _content_token(current)
            if (token is None and current is not None) or \
                    (token is not None and cur_token != token):
                raise CommitConflictError(
                    f"{path}: version changed under a conditional write")
            parent = p.rsplit("/", 1)[0] if "/" in p else ""
            if parent:
                self._dirs.add(parent)
            self._files[p] = data
            import time
            self._mtimes[p] = time.time()
            return _content_token(data)

    def delete(self, path: str) -> None:
        p = self._norm(path)
        prefix = p + "/"
        with self._lock:
            self._files.pop(p, None)
            self._mtimes.pop(p, None)
            self._dirs.discard(p)
            for k in [k for k in self._files if k.startswith(prefix)]:
                del self._files[k]
                self._mtimes.pop(k, None)
            self._dirs -= {d for d in self._dirs if d.startswith(prefix)}

    def mkdirs(self, path: str) -> None:
        with self._lock:
            self._dirs.add(self._norm(path))

    def rename(self, src: str, dst: str) -> bool:
        s, d = self._norm(src), self._norm(dst)
        with self._lock:
            if self.exists(dst):
                return False
            if not self.exists(src):
                return False
            sp = s + "/"
            moves_f = {k: d + k[len(s):] for k in self._files
                       if k == s or k.startswith(sp)}
            moves_d = {k: d + k[len(s):] for k in self._dirs
                       if k == s or k.startswith(sp)}
            for old, new in moves_f.items():
                self._files[new] = self._files.pop(old)
                stamp = self._mtimes.pop(old, None)
                if stamp is not None:
                    self._mtimes[new] = stamp
            for old, new in moves_d.items():
                self._dirs.discard(old)
                self._dirs.add(new)
            parent = d.rsplit("/", 1)[0] if "/" in d else ""
            if parent:
                self._dirs.add(parent)
            return True

    def _children(self, path: str) -> tuple[set[str], set[str]]:
        p = self._norm(path)
        prefix = p + "/" if p else ""
        files, dirs = set(), set()
        with self._lock:
            for k in self._files:
                if k.startswith(prefix):
                    rest = k[len(prefix):]
                    (files if "/" not in rest
                     else dirs).add(rest.split("/", 1)[0])
            for k in self._dirs:
                if k.startswith(prefix) and k != p:
                    dirs.add(k[len(prefix):].split("/", 1)[0])
        return files, dirs

    def list_files(self, path: str) -> list[str]:
        files, _ = self._children(path)
        return sorted(files)

    def list_dirs(self, path: str) -> list[str]:
        _, dirs = self._children(path)
        return sorted(dirs)

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        results: list[str] = []

        def walk(cur: str, level: int, rel: str) -> None:
            if level == depth:
                results.append(rel)
                return
            for name in self.list_dirs(cur):
                if name.startswith(("_", ".")) or "=" not in name:
                    continue
                walk(f"{cur}/{name}", level + 1,
                     f"{rel}/{name}" if rel else name)

        walk(self._norm(root), 0, "")
        return sorted(results)


#: process-global memory:// namespace (the reference's memory store is
#: likewise shared per process, tests/conftest.py:66-113)
_MEMORY_FS = MemoryFS()


class HadoopFS:
    """Metadata I/O through the JVM Hadoop FileSystem (any scheme)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        # resolved once: each ``jvm.a.b.C`` lookup is a py4j round trip
        # per name component, several times the cost of the call itself
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._IOUtils = self._jvm.org.apache.commons.io.IOUtils

    def supports_atomic_rename(self, path: str) -> bool:
        return scheme_of(path) not in _NON_ATOMIC_RENAME_SCHEMES

    def _fs_path(self, path: str):
        jpath = self._Path(path)
        return jpath.getFileSystem(self._conf), jpath

    def exists(self, path: str) -> bool:
        fs, jpath = self._fs_path(path)
        return fs.exists(jpath)

    def exists_file(self, path: str) -> bool:
        return self.exists(path)  # one RPC either way on Hadoop FS

    def mtime(self, path: str) -> "float | None":
        try:
            fs, jpath = self._fs_path(path)
            return fs.getFileStatus(jpath).getModificationTime() / 1000.0
        except Exception:
            return None

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def read_bytes(self, path: str) -> bytes:
        fs, jpath = self._fs_path(path)
        stream = fs.open(jpath)
        try:
            # py4j converts byte arrays BY VALUE, so the in-out
            # ``stream.read(buf)`` idiom never fills the Python-side buffer.
            # Drain the stream JVM-side and take the returned byte[] (py4j
            # maps Java byte[] return values to Python bytes).
            data = self._IOUtils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()

    def read_tail(self, path: str, nbytes: int) -> bytes:
        """The last ``nbytes`` of a file (all of a shorter one), read
        through one positioned stream — a parquet footer without the
        file."""
        fs, jpath = self._fs_path(path)
        size = fs.getFileStatus(jpath).getLen()
        nbytes = min(nbytes, size)
        stream = fs.open(jpath)
        try:
            stream.seek(size - nbytes)
            return bytes(self._IOUtils.toByteArray(stream, nbytes))
        finally:
            stream.close()

    def write_text(self, path: str, data: str) -> None:
        self.write_bytes(path, data.encode("utf-8"))

    def write_bytes(self, path: str, data: bytes) -> None:
        fs, jpath = self._fs_path(path)
        stream = fs.create(jpath, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def read_versioned(self, path: str) -> tuple[str | None, str | None]:
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return None, None
        data = self.read_text(path)
        return data, _content_token(data)

    def write_if(self, path: str, data: str, token: str | None) -> str:
        """CAS via an exclusive-create lock file — ``create`` with
        ``overwrite=false`` is atomic on HDFS, giving the mutual
        exclusion a content-token compare needs."""
        import time
        lock_path = f"{path}.__cas_lock__"
        fs, jlock = self._fs_path(lock_path)
        deadline = time.monotonic() + _LOCK_TTL_S
        while True:
            try:
                fs.create(jlock, False).close()
                break
            except Exception:
                try:
                    st = fs.getFileStatus(jlock)
                    if (time.time() * 1000 - st.getModificationTime()
                            > _LOCK_TTL_S * 1000):
                        # break via rename-to-sidecar: exactly one
                        # waiter wins; a blind delete could remove a
                        # FRESH lock another waiter just created
                        debris = f"{lock_path}.broken.{uuid.uuid4().hex}"
                        _, jdebris = self._fs_path(debris)
                        if fs.rename(jlock, jdebris):
                            fs.delete(jdebris, False)
                except Exception:
                    pass  # holder released / stat or rename refused
                # EVERY failed create passes the deadline gate + sleep:
                # a non-contention failure (permissions, connectivity)
                # surfaces as a conflict instead of a hot infinite loop
                if time.monotonic() > deadline:
                    raise CommitConflictError(
                        f"CAS lock {path} held past TTL") from None
                time.sleep(0.01)
        try:
            _, cur_token = self.read_versioned(path)
            if (token is None and cur_token is not None) or \
                    (token is not None and cur_token != token):
                raise CommitConflictError(
                    f"{path}: version changed under a conditional write")
            self.write_text(path, data)
            return _content_token(data)
        finally:
            try:
                fs.delete(jlock, False)
            except Exception:
                pass

    def delete(self, path: str) -> None:
        fs, jpath = self._fs_path(path)
        fs.delete(jpath, True)

    def mkdirs(self, path: str) -> None:
        fs, jpath = self._fs_path(path)
        fs.mkdirs(jpath)

    def rename(self, src: str, dst: str) -> bool:
        fs, jsrc = self._fs_path(src)
        _, jdst = self._fs_path(dst)
        return bool(fs.rename(jsrc, jdst))

    def copy_file(self, src: str, dst: str) -> bool:
        """Non-destructive copy, bytes staying JVM-side
        (``FileUtil.copy`` — no py4j byte round-trip); False ONLY for
        a missing source."""
        sfs, jsrc = self._fs_path(src)
        dfs, jdst = self._fs_path(dst)
        if not sfs.exists(jsrc):
            return False
        futil = self._jvm.org.apache.hadoop.fs.FileUtil
        return bool(futil.copy(sfs, jsrc, dfs, jdst, False, True,
                               self._conf))

    def _list_names(self, path: str, want_dirs: bool) -> list[str]:
        fs, jpath = self._fs_path(path)
        if not fs.exists(jpath):
            return []
        return sorted(s.getPath().getName() for s in fs.listStatus(jpath)
                      if s.isDirectory() == want_dirs)

    def list_files(self, path: str) -> list[str]:
        return self._list_names(path, want_dirs=False)

    def list_dirs(self, path: str) -> list[str]:
        return self._list_names(path, want_dirs=True)

    def walk_files(self, root: str) -> list[str]:
        """Staging fast path (staging._walk_files): ONE ``listStatus``
        per directory, where ``list_files`` plus ``list_dirs`` pay an
        ``exists`` and a ``listStatus`` each; hidden names skipped at
        every level, as the recursive walker skips them."""
        fs, jroot = self._fs_path(root)
        if not fs.exists(jroot):
            return []
        out: list[str] = []

        def walk(jpath, rel: str) -> None:
            for status in fs.listStatus(jpath):
                path = status.getPath()
                name = path.getName()
                if name.startswith(("_", ".")):
                    continue
                sub = f"{rel}/{name}" if rel else name
                if status.isDirectory():
                    walk(path, sub)
                else:
                    out.append(sub)

        walk(jroot, "")
        return sorted(out)

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        fs, jroot = self._fs_path(root)
        if not fs.exists(jroot):
            return []  # missing root = no partitions (LocalFS parity)
        results: list[str] = []

        def walk(jpath, level: int, rel: str) -> None:
            if level == depth:
                results.append(rel)
                return
            for status in fs.listStatus(jpath):
                if not status.isDirectory():
                    continue
                name = status.getPath().getName()
                if name.startswith(("_", ".")) or "=" not in name:
                    continue
                walk(status.getPath(), level + 1,
                     f"{rel}/{name}" if rel else name)

        walk(jroot, 0, "")
        return sorted(results)


class CountingFS:
    """Op-counting decorator over any metadata FS — the analog of the
    reference's ``CountingProbe`` (``benches/probe.py:19-85``).

    Tallies the object-store op classes that dominate metadata cost at
    scale: ``get`` (read), ``put`` (write), ``list`` (directory/walk),
    ``head`` (exists), ``rename``, ``delete``.  Benches and tests use
    it to assert op BUDGETS — e.g. a catalog-backed cold open is O(1)
    GETs with zero LISTs, not a recursive store walk.
    """

    def __init__(self, inner):
        self.inner = inner
        from collections import Counter
        self.counts = Counter()

    def reset(self) -> None:
        self.counts.clear()

    def exists(self, path: str) -> bool:
        self.counts["head"] += 1
        return self.inner.exists(path)

    def mtime(self, path: str) -> "float | None":
        self.counts["head"] += 1
        probe = getattr(self.inner, "mtime", None)
        return probe(path) if probe else None

    def exists_file(self, path: str) -> bool:
        self.counts["head"] += 1
        return self.inner.exists_file(path)

    def read_text(self, path: str) -> str:
        self.counts["get"] += 1
        return self.inner.read_text(path)

    def write_text(self, path: str, data: str) -> None:
        self.counts["put"] += 1
        self.inner.write_text(path, data)

    def read_bytes(self, path: str) -> bytes:
        self.counts["get"] += 1
        return self.inner.read_bytes(path)

    def read_tail(self, path: str, nbytes: int) -> bytes:
        self.counts["get"] += 1
        return self.inner.read_tail(path, nbytes)

    def write_bytes(self, path: str, data: bytes) -> None:
        self.counts["put"] += 1
        self.inner.write_bytes(path, data)

    def read_versioned(self, path: str):
        self.counts["get"] += 1
        return self.inner.read_versioned(path)

    def write_if(self, path: str, data: str, token) -> str:
        self.counts["put"] += 1
        return self.inner.write_if(path, data, token)

    def delete(self, path: str) -> None:
        self.counts["delete"] += 1
        self.inner.delete(path)

    def mkdirs(self, path: str) -> None:
        self.counts["mkdirs"] += 1
        self.inner.mkdirs(path)

    def rename(self, src: str, dst: str) -> bool:
        self.counts["rename"] += 1
        return self.inner.rename(src, dst)

    def copy_file(self, src: str, dst: str) -> bool:
        self.counts["copy"] += 1
        return self.inner.copy_file(src, dst)

    def list_files(self, path: str) -> list[str]:
        self.counts["list"] += 1
        return self.inner.list_files(path)

    def list_dirs(self, path: str) -> list[str]:
        self.counts["list"] += 1
        return self.inner.list_dirs(path)

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        self.counts["list"] += 1
        return self.inner.list_partition_dirs(root, depth)

    def supports_atomic_rename(self, path: str) -> bool:
        return self.inner.supports_atomic_rename(path)

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name == "walk_files":  # only stores that have the hook
            def walk_files(root: str) -> list[str]:
                self.counts["list"] += 1
                return attr(root)
            return walk_files
        return attr


#: Statuses the urllib clients retry: throttles and transient
#: server/gateway faults.  Every other status is an answer.
_RETRY_STATUSES = frozenset({429, 500, 502, 503, 504})

#: Bounded transient-fault retry count of :func:`http_request`.
_HTTP_RETRIES = 3


def http_request(method: str, url: str, headers: dict | None = None,
                 body: bytes | None = None, *, timeout: float = 60,
                 authorize=None, refresh=None, denied=None):
    """One urllib exchange with bounded retry → ``(status, headers,
    body)`` — the transport under :class:`AzureBlobFS`, :class:`GcsFS`
    and :class:`HttpFS`.

    Object stores and CDNs throttle routinely, and a flaky window must
    not fail an insert or read as absence: statuses in
    ``_RETRY_STATUSES`` and connection errors are retried with
    exponential backoff, at most ``_HTTP_RETRIES`` times.  Any other
    status (absent, conflict, precondition) is RETURNED, never raised,
    so each caller maps it per operation (ONLY a real 404 may read as
    absent).

    ``authorize(headers)`` runs before every attempt (request signing,
    bearer header).  ``refresh``, given for provider-backed bearer
    auth, gets ONE call on the first 401 — the token may simply have
    expired mid-session — and that retry does not consume a
    transient-retry slot, so a 401 landing on the last attempt after a
    throttle streak still gets its refreshed-token retry.  Any other
    401/403 raises ``denied(status)`` when ``denied`` is given.  A
    connection error on the last attempt re-raises the ``URLError``.
    """
    import time
    import urllib.error
    import urllib.request
    headers = dict(headers or {})
    refreshed = refresh is None
    attempt = 0
    while True:
        if authorize is not None:
            authorize(headers)
        req = urllib.request.Request(url, data=body, headers=headers,
                                     method=method)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.status, dict(resp.headers), resp.read()
        except urllib.error.HTTPError as exc:
            data = exc.read()
            if exc.code == 401 and not refreshed:
                refreshed = True
                refresh()
                continue
            if exc.code in (401, 403) and denied is not None:
                raise denied(exc.code) from exc
            if exc.code not in _RETRY_STATUSES \
                    or attempt == _HTTP_RETRIES:
                return exc.code, dict(exc.headers), data
        except urllib.error.URLError:
            if attempt == _HTTP_RETRIES:
                raise
        # every branch above returns or raises at the final attempt,
        # so this backoff only runs with retries left
        time.sleep(0.1 * (2 ** attempt))
        attempt += 1


def _hidden(rel: str) -> bool:
    """True when any component of ``rel`` is ``_``/``.``-prefixed."""
    return any(c.startswith(("_", ".")) for c in rel.split("/"))


def _purge_mirror(mirror: str, rel: str, seen: set,
                  versions: dict) -> None:
    """Remove mirror files under ``rel`` that the remote no longer
    has (not in ``seen``): a republished partition renames its files,
    and a stale generation must never leak into a scan."""
    local_prefix = os.path.join(mirror, *rel.split("/")) if rel \
        else mirror
    if os.path.isdir(local_prefix):
        for dirpath, _, filenames in os.walk(local_prefix):
            for fname in filenames:
                full = os.path.join(dirpath, fname)
                if full not in seen:
                    os.remove(full)
                    versions.pop(full, None)


class _ObjectStoreFS:
    """The store contract shared by the object-store backends
    (:class:`S3FS`, :class:`AzureBlobFS`, :class:`GcsFS`), written once
    over a few backend primitives.  The reference gets every scheme
    from one store abstraction the same way (its
    ``store/obstore_store.py:27`` and ``store/factory.py:22-79``).

    Object stores are a flat keyspace: single-object PUT/DELETE are
    atomic, directories are pure prefix fictions, and there is **no
    rename** — ``rename`` is copy + delete, non-atomic by nature (every
    scheme here is in ``_NON_ATOMIC_RENAME_SCHEMES``).
    ``supports_atomic_rename`` is honestly False, so collections take
    the manifest-driven file-granular publish path (staging.py design
    note).

    Two planes:

    - **metadata plane** (config/catalog/intents/publish): every op is
      a direct store API call; ``api_counts`` tallies them (head, get,
      put, list, copy, delete) so benches and tests can assert op
      budgets.
    - **bulk plane**: on a production cluster Spark reads and writes
      the scheme natively through its Hadoop connector (hadoop-aws,
      hadoop-azure, gcs-connector) and this class never touches row
      data.  When the JVM has no connector, ``requires_localization``
      switches the collection to a scratch bridge: Spark jobs write to
      local scratch and :meth:`upload_tree` PUTs the files (returning
      the exact file manifest — zero listing on the commit path);
      reads go through :meth:`localize`, a version-validated local
      mirror.  The protocol traffic — staging, intents, manifests,
      publish copies, catalog PUTs, recovery — is identical in both
      configurations.

    Backend primitives (``bucket`` is the S3/GCS bucket or the Azure
    container; each call tallies its own ``api_counts``):

    - ``_head(bucket, key)`` → metadata, or None for a real 404 ONLY: a
      throttle/5xx/403 answered as "absent" would make recovery re-run
      phase-1 parking on a published generation and wedge the
      partition;
    - ``_list_page(bucket, prefix, delimiter, token, limit)`` → one
      LIST page ``(rows, prefixes, next_token)`` with ``(key, version,
      size)`` rows;
    - ``_get(bucket, key)`` → ``(body, version)``, None when absent;
    - ``_get_range(bucket, key, offset, nbytes)`` → bytes ``[offset,
      offset + nbytes)`` of the object, or its last ``nbytes`` when
      ``offset`` is None, by one ranged GET: fewer bytes when the
      object ends first (none past its end), None when absent.  It
      serves ``read_tail`` (parquet footers, zarr shard indexes) and
      ``read_at`` (zarr inner chunks);
    - ``_put(bucket, key, data)``, and ``_put_if(bucket, key, data,
      token)``: the conditional PUT (create-only for a None token,
      replace-exactly-this otherwise) returning the new version, or
      raising :class:`CommitConflictError` when the race is lost;
    - ``_copy_key(sb, sk, db, dk, listed)`` → server-side copy, False
      ONLY when the source is missing (``listed``: the key was just
      listed, so no existence probe is needed);
    - ``_delete_keys(bucket, keys)``.
    """

    requires_localization = True

    def __init__(self, scratch_dir: str | None, tag: str):
        from collections import Counter
        self._scratch_root = _auto_scratch(scratch_dir, tag)
        #: localize mirror file -> version token (ETag / generation)
        self._versions: dict[str, str] = {}
        self.api_counts = Counter()

    @staticmethod
    def _bk(path: str) -> tuple[str, str]:
        """``(bucket, key)`` of ``scheme://bucket/key``; the scheme is
        not checked (gs:// rides :class:`S3FS` through the interop
        API)."""
        bucket, _, key = path.split("://", 1)[-1].partition("/")
        return bucket, key.strip("/")

    def _iter_keys(self, bucket: str, prefix: str):
        """All ``(key, version, size)`` under ``prefix`` — flat
        paginated LIST; O(n/page) round-trips, never a per-directory
        walk."""
        token = None
        while True:
            rows, _, token = self._list_page(bucket, prefix, token=token)
            yield from rows
            if not token:
                return

    def _rel_keys(self, root: str):
        bucket, base = self._bk(root)
        start = len(base) + 1 if base else 0
        for key, version, size in self._iter_keys(
                bucket, base + "/" if base else ""):
            yield key[start:], version, size

    # -- protocol surface ----------------------------------------------
    def supports_atomic_rename(self, path: str) -> bool:
        return False

    def mkdirs(self, path: str) -> None:
        pass  # directories are prefix fictions on a flat keyspace

    def exists(self, path: str) -> bool:
        bucket, key = self._bk(path)
        if not key:
            return True
        if self._head(bucket, key) is not None:
            return True
        rows, prefixes, _ = self._list_page(bucket, key + "/", limit=1)
        return bool(rows or prefixes)

    def exists_file(self, path: str) -> bool:
        """Existence of a single OBJECT: one HEAD, no prefix LIST.
        ``exists`` must also answer for directory fictions, which costs
        a LIST on every miss — per-file publish checks use this instead
        (the dominant saving on the commit path: one LIST per staged
        file at scale)."""
        return self._head(*self._bk(path)) is not None

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def read_bytes(self, path: str) -> bytes:
        got = self._get(*self._bk(path))
        if got is None:
            raise FileNotFoundError(path)
        return got[0]

    def read_tail(self, path: str, nbytes: int) -> bytes:
        """The last ``nbytes`` of an object (all of a shorter one): one
        ranged GET — a parquet footer without the file."""
        tail = self._get_range(*self._bk(path), None, nbytes)
        if tail is None:
            raise FileNotFoundError(path)
        return tail

    def read_at(self, path: str, offset: int, nbytes: int) -> bytes:
        """Bytes ``[offset, offset + nbytes)`` of an object by one
        ranged GET — a zarr inner chunk without its shard."""
        return _checked_range(path, offset, nbytes, self._get_range(
            *self._bk(path), offset, nbytes))

    def write_text(self, path: str, data: str) -> None:
        self.write_bytes(path, data.encode("utf-8"))

    def write_bytes(self, path: str, data: bytes) -> None:
        self._put(*self._bk(path), data)

    def read_versioned(self, path: str) -> tuple[str | None, str | None]:
        """``(text, version)`` — the ETag/generation is the store's
        native version token for :meth:`write_if`'s conditional PUT."""
        got = self._get(*self._bk(path))
        if got is None:
            return None, None
        return got[0].decode("utf-8"), got[1]

    def write_if(self, path: str, data: str, token: str | None) -> str:
        """True server-side compare-and-swap: one conditional PUT, no
        locks, scales to any number of writers.  Returns the new
        version straight from the PUT response (no separate read that a
        racing takeover could poison)."""
        try:
            return self._put_if(*self._bk(path), data.encode("utf-8"),
                                token)
        except CommitConflictError as exc:
            raise CommitConflictError(
                f"{path}: conditional PUT lost the race ({exc})") from None

    def delete(self, path: str) -> None:
        bucket, key = self._bk(path)
        doomed = [key] if self._head(bucket, key) is not None else []
        doomed += [k for k, _, _ in self._iter_keys(bucket, key + "/")]
        self._delete_keys(bucket, doomed)

    def _delete_source(self, bucket: str, key: str) -> None:
        """Post-copy source delete: a silent failure would leave BOTH
        src and dst visible as duplicate data, so anything but success
        or already-gone raises."""
        try:
            self._delete_keys(bucket, [key])
        except StoreError as exc:
            raise StoreError(f"{exc} after copy (source blob survives; "
                             f"re-run the move)") from exc

    def move_file(self, src: str, dst: str) -> bool:
        """Single-object move where the CALLER has already done any
        dst-exists check: one server-side copy + one delete, no
        redundant LIST round-trips.  The publish hot path uses this —
        per-file metadata cost is the commit-path currency at large
        file counts.  False ONLY when the source object is missing."""
        sb, sk = self._bk(src)
        if not self._copy_key(sb, sk, *self._bk(dst)):
            return False
        self._delete_source(sb, sk)
        return True

    def copy_file(self, src: str, dst: str) -> bool:
        """Non-destructive server-side copy (bytes never leave the
        store; retention copies of pinned partitions use this instead
        of a driver byte round-trip).  Same missing-source contract as
        :meth:`move_file`."""
        return self._copy_key(*self._bk(src), *self._bk(dst))

    def rename(self, src: str, dst: str) -> bool:
        """Copy+delete move of one object, or of every object under a
        prefix; False if dst exists or src is absent.  Each object moves
        as two atomic ops with a visible window between them; the
        staging protocol's exists-checks are what make crashes in the
        window recoverable."""
        if self.exists(dst):
            return False
        sb, sk = self._bk(src)
        if self._head(sb, sk) is not None:  # single object
            return self.move_file(src, dst)
        keys = [k for k, _, _ in self._iter_keys(sb, sk + "/")]
        if not keys:
            return False
        db, dk = self._bk(dst)
        for k in keys:
            if not self._copy_key(sb, k, db, dk + k[len(sk):],
                                  listed=True):
                raise FileNotFoundError(f"{src}: {k} vanished mid-rename")
            self._delete_source(sb, k)
        return True

    def _delimited(self, path: str) -> tuple[list[str], list[str]]:
        bucket, key = self._bk(path)
        prefix = key + "/" if key else ""
        files, dirs, token = [], set(), None
        while True:
            rows, prefixes, token = self._list_page(
                bucket, prefix, delimiter="/", token=token)
            files += [k[len(prefix):] for k, _, _ in rows if k != prefix]
            # a set: GCS repeats the prefixes on every page
            dirs.update(p[len(prefix):].rstrip("/") for p in prefixes)
            if not token:
                return sorted(files), sorted(dirs)

    def list_files(self, path: str) -> list[str]:
        return self._delimited(path)[0]

    def list_dirs(self, path: str) -> list[str]:
        return self._delimited(path)[1]

    def walk_files(self, root: str) -> list[str]:
        """Staging fast path (staging._walk_files): ONE flat LIST of the
        prefix instead of O(dirs) recursive listings; hidden components
        skipped to match the recursive walker's contract."""
        return sorted(rel for rel, _, _ in self._rel_keys(root)
                      if not _hidden(rel))

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        out = set()
        for rel, _, _ in self._rel_keys(root):
            comps = rel.split("/")
            if len(comps) <= depth or _hidden(rel) \
                    or not all("=" in c for c in comps[:depth]):
                continue
            out.add("/".join(comps[:depth]))
        return sorted(out)

    # -- bulk bridge (no-JVM-connector configurations only) -------------
    def new_scratch_dir(self) -> str:
        path = os.path.join(self._scratch_root, "w", uuid.uuid4().hex)
        os.makedirs(path, exist_ok=True)
        return path

    def upload_tree(self, local_dir: str, remote_dir: str) -> list[str]:
        """PUT every non-hidden file under ``local_dir`` to the remote
        prefix; returns the relative file list — the writer-side manifest
        that lets the staged publish skip listing entirely."""
        uploaded: list[str] = []
        for dirpath, dirnames, filenames in os.walk(local_dir):
            dirnames[:] = [d for d in dirnames
                           if not d.startswith(("_", "."))]
            for fname in filenames:
                if fname.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, local_dir).replace(os.sep, "/")
                with open(full, "rb") as fh:
                    self.write_bytes(f"{remote_dir}/{rel}", fh.read())
                uploaded.append(rel)
        shutil.rmtree(local_dir, ignore_errors=True)
        return sorted(uploaded)

    def localize(self, root: str,
                 relpaths: "list[str] | None" = None) -> str:
        """Version-validated local mirror of ``root`` (or just
        ``relpaths`` under it) for Spark to read; returns the mirror
        base dir.

        Unchanged objects (same ETag/generation) are never
        re-downloaded; objects that vanished remotely are removed from
        the mirror so a stale generation can never leak into a scan.
        This bridge exists for connector-less environments — with the
        Hadoop connector on the cluster, reads are direct scans and this
        is never called.
        """
        bucket, base = self._bk(root)
        mirror = os.path.join(self._scratch_root, "r", bucket,
                              base.replace("/", "_"))
        for rel in (relpaths if relpaths is not None else [""]):
            rkey = f"{base}/{rel}".strip("/") if rel else base
            seen = set()
            for key, version, _ in self._iter_keys(
                    bucket, rkey + "/" if rkey else ""):
                krel = key[len(base) + 1:] if base else key
                if rel == "" and _hidden(krel):
                    continue
                local = os.path.join(mirror, *krel.split("/"))
                seen.add(local)
                if self._versions.get(local) == version \
                        and os.path.exists(local):
                    continue
                os.makedirs(os.path.dirname(local), exist_ok=True)
                with open(local, "wb") as fh:
                    fh.write(self.read_bytes(f"{root.rstrip('/')}/{krel}"))
                self._versions[local] = version
            _purge_mirror(mirror, rel, seen, self._versions)
        return mirror


def _s3_missing(exc) -> bool:
    """A botocore error that means "no such object" — ONLY a 404: a
    throttle/5xx/403 read as absence would surface in staging recovery
    as the misleading "staged data incomplete, cannot roll forward"."""
    resp = getattr(exc, "response", None) or {}
    return (resp.get("ResponseMetadata", {}).get("HTTPStatusCode") == 404
            or resp.get("Error", {}).get("Code", "")
            in ("404", "NoSuchKey", "NotFound"))


class S3FS(_ObjectStoreFS):
    """S3-compatible object store backend via boto3 — REAL S3
    semantics (the shared contract and its two planes are documented on
    :class:`_ObjectStoreFS`).  This is the store class the
    manifest-driven staging publish was designed for (staging.py design
    note).  ``requires_localization`` assumes no JVM S3 connector; flip
    it off when running with hadoop-aws.

    Mirrors the reference's moto-S3 contract surface (its
    ``tests/test_backends.py:49-430`` and ``store/obstore_store.py:27``)
    on boto3.
    """

    def __init__(self, endpoint_url: str | None = None,
                 region: str | None = None,
                 scratch_dir: str | None = None,
                 access_key: str | None = None,
                 secret_key: str | None = None,
                 session_token: str | None = None):
        import boto3  # optional dep, import-gated (env ships it)
        kwargs = {}
        if access_key:
            # explicit creds (resolve_fs passes its env's, which in a
            # Python task may be the driver's snapshot); otherwise
            # boto3's normal chain (env, instance role)
            kwargs["aws_access_key_id"] = access_key
            kwargs["aws_secret_access_key"] = secret_key
            kwargs["aws_session_token"] = session_token
        self._client = boto3.client(
            "s3",
            endpoint_url=endpoint_url or os.environ.get("AWS_ENDPOINT_URL"),
            region_name=region or os.environ.get("AWS_REGION", "us-east-1"),
            **kwargs)
        super().__init__(scratch_dir, "zcs3")

    def mtime(self, path: str) -> "float | None":
        head = self._head(*self._bk(path))
        lm = (head or {}).get("LastModified")
        return lm.timestamp() if lm is not None else None

    # -- primitives -----------------------------------------------------
    def _head(self, bucket: str, key: str):
        self.api_counts["head"] += 1
        try:
            return self._client.head_object(Bucket=bucket, Key=key)
        except self._client.exceptions.ClientError as exc:
            if _s3_missing(exc):
                return None
            status = exc.response.get("ResponseMetadata", {}) \
                .get("HTTPStatusCode")
            code = exc.response.get("Error", {}).get("Code", "")
            if status == 403 or code in ("403", "AccessDenied"):
                # S3 answers HEAD-on-missing-key with 403 when the
                # credentials lack s3:ListBucket — indistinguishable
                # from "forbidden", so surface a CLEAR permissions
                # error instead of either guessing "absent" (corrupts
                # recovery) or a raw ClientError (ADVICE r5)
                raise StoreError(
                    f"HEAD s3://{bucket}/{key} returned 403: the "
                    f"credentials may lack s3:ListBucket (S3 reports "
                    f"403 instead of 404 for missing keys without "
                    f"it) or s3:GetObject; zcollection_spark requires "
                    f"s3:ListBucket to distinguish absent from "
                    f"forbidden") from exc
            raise

    def _list_page(self, bucket: str, prefix: str,
                   delimiter: str | None = None,
                   token: str | None = None, limit: int | None = None):
        self.api_counts["list"] += 1
        kwargs = {"Prefix": prefix}
        if delimiter:
            kwargs["Delimiter"] = delimiter
        if token:
            kwargs["ContinuationToken"] = token
        if limit:
            kwargs["MaxKeys"] = limit
        page = self._client.list_objects_v2(Bucket=bucket, **kwargs)
        rows = [(obj["Key"], obj["ETag"], obj["Size"])
                for obj in page.get("Contents", ())]
        prefixes = [cp["Prefix"] for cp in page.get("CommonPrefixes", ())]
        return rows, prefixes, (page.get("NextContinuationToken")
                                if page.get("IsTruncated") else None)

    def _get(self, bucket: str, key: str):
        self.api_counts["get"] += 1
        try:
            resp = self._client.get_object(Bucket=bucket, Key=key)
        except self._client.exceptions.NoSuchKey:
            return None
        return resp["Body"].read(), resp["ETag"]

    def _get_range(self, bucket: str, key: str, offset: "int | None",
                   nbytes: int):
        self.api_counts["get"] += 1
        try:
            resp = self._client.get_object(
                Bucket=bucket, Key=key,
                Range=_range_header(offset, nbytes))
        except self._client.exceptions.ClientError as exc:
            if _s3_missing(exc):
                return None
            if exc.response.get("ResponseMetadata", {}) \
                    .get("HTTPStatusCode") == 416:
                return b""
            raise
        return _range_body(resp["ResponseMetadata"]["HTTPStatusCode"],
                           resp["Body"].read(), offset, nbytes)

    def _put(self, bucket: str, key: str, data: bytes) -> None:
        self.api_counts["put"] += 1
        self._client.put_object(Bucket=bucket, Key=key, Body=data)

    def _put_if(self, bucket: str, key: str, data: bytes,
                token: str | None) -> str:
        """``If-Match`` (update) / ``If-None-Match: *`` (create-only)."""
        from botocore.exceptions import ClientError
        kwargs = ({"IfNoneMatch": "*"} if token is None
                  else {"IfMatch": token})
        self.api_counts["put"] += 1
        try:
            return self._client.put_object(
                Bucket=bucket, Key=key, Body=data, **kwargs)["ETag"]
        except ClientError as exc:
            code = exc.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "ConditionalRequestConflict",
                        "412"):
                raise CommitConflictError(code) from None
            raise

    def _delete_keys(self, bucket: str, keys: list[str]) -> None:
        if len(keys) == 1:  # e.g. the source of a move: one DeleteObject
            self.api_counts["delete"] += 1
            self._client.delete_object(Bucket=bucket, Key=keys[0])
            return
        for i in range(0, len(keys), 1000):
            self.api_counts["delete"] += 1
            self._client.delete_objects(
                Bucket=bucket,
                Delete={"Objects": [{"Key": k} for k in keys[i:i + 1000]],
                        "Quiet": True})

    def _copy_key(self, sb: str, sk: str, db: str, dk: str,
                  listed: bool = False) -> bool:
        """One CopyObject and no HEAD: a missing source answers 404."""
        self.api_counts["copy"] += 1
        try:
            self._client.copy_object(Bucket=db, Key=dk,
                                     CopySource={"Bucket": sb, "Key": sk})
        except self._client.exceptions.ClientError as exc:
            if _s3_missing(exc):
                return False
            raise
        return True

    #: single-call CopyObject ceiling (the documented S3 limit is
    #: 5 GiB; bigger objects need multipart UploadPartCopy) and the
    #: ranged part size used past it.  Class attributes so tests can
    #: shrink them and drive the multipart path on small objects.
    _COPY_SINGLE_MAX = 5 * 1024 ** 3
    _COPY_PART_SIZE = 1024 ** 3

    def copy_file(self, src: str, dst: str) -> bool:
        """Server-side copy: one CopyObject up to the documented 5 GiB
        single-call limit, multipart UploadPartCopy with ranged parts
        past it — a pinned partition holding a >5 GiB part-file must
        retain, not fail every publish.  Same missing-source contract as
        ``move_file``."""
        sb, sk = self._bk(src)
        db, dk = self._bk(dst)
        head = self._head(sb, sk)
        if head is None:
            return False
        size = int(head.get("ContentLength", 0))
        if size <= self._COPY_SINGLE_MAX:
            return self._copy_key(sb, sk, db, dk)
        mp = self._client.create_multipart_upload(Bucket=db, Key=dk)
        upload_id = mp["UploadId"]
        try:
            parts = []
            for i, start in enumerate(
                    range(0, size, self._COPY_PART_SIZE), start=1):
                end = min(start + self._COPY_PART_SIZE, size) - 1
                self.api_counts["copy"] += 1
                part = self._client.upload_part_copy(
                    Bucket=db, Key=dk, UploadId=upload_id, PartNumber=i,
                    CopySource={"Bucket": sb, "Key": sk},
                    CopySourceRange=f"bytes={start}-{end}")
                parts.append({"PartNumber": i,
                              "ETag": part["CopyPartResult"]["ETag"]})
            self._client.complete_multipart_upload(
                Bucket=db, Key=dk, UploadId=upload_id,
                MultipartUpload={"Parts": parts})
        except Exception as exc:
            # abort so the incomplete upload does not bill forever
            self._client.abort_multipart_upload(
                Bucket=db, Key=dk, UploadId=upload_id)
            # the missing-source contract holds MID-copy too: a source
            # vanishing between the HEAD and an upload_part_copy must
            # surface as False (the caller's concurrent-mutation
            # signal), not a raw botocore error
            if _s3_missing(exc):
                return False
            raise
        return True


#: Name of the published file manifest an HTTP(S) store requires —
#: written by ``Collection.write_manifest()`` at publish time.
HTTP_MANIFEST_RELPATH = "_catalog/files.json"


class HttpFS:
    """READ-ONLY store over plain HTTP(S) — reference parity with the
    obstore http backend (``store/obstore_store.py:27``), re-expressed
    for the one thing HTTP can honestly do: serve a PUBLISHED,
    immutable collection (a dataset on a static file server / CDN).

    HTTP has no LIST, so a published collection must carry a file
    manifest (``_catalog/files.json``, one small GET — written by
    ``Collection.write_manifest()`` on the authoring store).  Metadata
    reads are direct GET/HEAD (urllib, stdlib); bulk reads go through
    the same ETag-validated localize mirror as the connector-less S3
    bridge (Hadoop's HttpFileSystem cannot listStatus, so Spark cannot
    scan http:// paths natively).  EVERY mutating operation raises
    :class:`ReadOnlyError` — there is no such thing as an HTTP write.
    """

    requires_localization = True

    def __init__(self, scratch_dir: str | None = None):
        self._scratch_root = _auto_scratch(scratch_dir, "zchttp")
        self._etags: dict[str, str] = {}
        self._manifests: dict[str, tuple[str | None, dict]] = {}

    # -- plumbing -------------------------------------------------------
    @staticmethod
    def _request(url: str, method: str = "GET",
                 headers: dict | None = None):
        """``(status, headers, body)`` through the shared retrying
        transport — CDNs throttle; a throttle must not read as absence
        or failure."""
        import urllib.error
        try:
            return http_request(method, url, headers, timeout=30)
        except urllib.error.URLError:
            raise StoreError(f"HTTP store unreachable: {url}") from None

    def _head(self, url: str):
        status, headers, _ = self._request(url, "HEAD")
        if status in (404, 410):
            return None
        if status >= 400:
            raise StoreError(f"HEAD {url} failed: {status}")
        return headers

    def _get(self, url: str) -> "tuple[bytes, str | None]":
        status, headers, body = self._request(url)
        if status in (404, 410):
            raise FileNotFoundError(url)
        if status >= 400:
            raise StoreError(f"GET {url} failed: {status}")
        return body, headers.get("ETag")

    @staticmethod
    def _version_token(headers: dict) -> "str | None":
        """ETag, or Last-Modified:Content-Length for servers without
        one (1 s mtime granularity alone is not enough)."""
        return headers.get("ETag") or (
            f"{headers.get('Last-Modified')}"
            f":{headers.get('Content-Length')}"
            if headers.get("Last-Modified") else None)

    def _manifest_doc(self, root: str) -> dict:
        """The published manifest DOCUMENT for ``root``, token-cached
        (ETag or Last-Modified:Content-Length): repeated metadata ops
        pay one HEAD, not HEAD + GET + parse."""
        url = f"{root.rstrip('/')}/{HTTP_MANIFEST_RELPATH}"
        cached = self._manifests.get(root)
        headers = self._head(url)
        if headers is None:
            raise StoreError(
                f"no {HTTP_MANIFEST_RELPATH} at {root}: HTTP stores are "
                f"read-only and cannot LIST — publish the collection "
                f"with Collection.write_manifest() first")
        token = self._version_token(headers)
        if cached is not None and token is not None and cached[0] == token:
            return cached[1]
        body, _ = self._get(url)
        doc = json.loads(body.decode())
        if int(doc.get("format_version", 1)) < 2 \
                and "_immutable" in doc.get("files", {}):
            # v1 published the Spark parquet DIRECTORY as a single
            # file; serving it would silently drop the immutable
            # variables from every query — refuse loudly instead
            raise StoreError(
                f"manifest at {root} is format_version 1 with an "
                f"_immutable entry (predates the immutable-directory "
                f"fix): re-run Collection.write_manifest() on the "
                f"authoring store")
        self._manifests[root] = (token, doc)
        return doc

    def _manifest(self, root: str) -> dict:
        """``{rel: [file, ...]}`` with partition relpaths as keys."""
        return dict(self._manifest_doc(root).get("files", {}))

    # -- read surface ---------------------------------------------------
    def supports_atomic_rename(self, path: str) -> bool:
        return False

    def exists_file(self, path: str) -> bool:
        return self._head(path) is not None

    def exists(self, path: str) -> bool:
        """A file (HEAD), or any manifest-known prefix — directory
        URLs 404 on real static servers/CDNs, so directory probes
        (e.g. the ``_immutable`` check) consult the manifest."""
        if self._head(path) is not None:
            return True
        try:
            root, rel = self._split_known_root(path)
        except StoreError:
            return False
        if not rel:
            return True
        for key in self._manifest(root):
            if key == rel or key.startswith(rel + "/"):
                return True
        return False

    def read_text(self, path: str) -> str:
        return self._get(path)[0].decode()

    def read_bytes(self, path: str) -> bytes:
        return self._get(path)[0]

    def _get_range(self, url: str, offset: "int | None",
                   nbytes: int) -> "bytes | None":
        """One ranged GET — the :class:`_ObjectStoreFS` primitive of the
        same name, over a URL: zarr shard reads are Range requests."""
        status, _, body = self._request(
            url, headers={"Range": _range_header(offset, nbytes)})
        if status in (404, 410):
            return None
        if status >= 400 and status != 416:
            raise StoreError(f"ranged GET {url} failed: {status}")
        return _range_body(status, body, offset, nbytes)

    def read_tail(self, path: str, nbytes: int) -> bytes:
        tail = self._get_range(path, None, nbytes)
        if tail is None:
            raise FileNotFoundError(path)
        return tail

    def read_at(self, path: str, offset: int, nbytes: int) -> bytes:
        return _checked_range(path, offset, nbytes,
                              self._get_range(path, offset, nbytes))

    def read_versioned(self, path: str) -> tuple[str | None, str | None]:
        try:
            body, etag = self._get(path)
        except FileNotFoundError:
            return None, None
        text = body.decode()
        return text, etag or _content_token(text)

    def list_files(self, path: str) -> list[str]:
        """Manifest-backed listing: ``path`` must be ``root/relpath``
        for a manifest at some ancestor ``root``."""
        root, rel = self._split_known_root(path)
        return sorted(self._manifest(root).get(rel, []))

    def list_dirs(self, path: str) -> list[str]:
        root, rel = self._split_known_root(path)
        prefix = f"{rel}/" if rel else ""
        out = {r[len(prefix):].split("/")[0]
               for r in self._manifest(root)
               if r.startswith(prefix) and r != rel}
        return sorted(out)

    def list_partition_dirs(self, root: str, depth: int) -> list[str]:
        return sorted(r for r in self._manifest(root)
                      if not r.startswith(("_", "."))
                      and len(r.split("/")) == depth)

    def _split_known_root(self, path: str) -> tuple[str, str]:
        """Split ``path`` into (manifest root, relpath) by probing the
        cached roots first, then ancestor-walking with HEAD."""
        path = path.rstrip("/")
        # Deepest cached root wins: with nested collections (manifests
        # at both /a and /a/b) insertion order must not let /a capture
        # paths that belong to /a/b.
        for root in sorted(self._manifests, key=len, reverse=True):
            if path == root or path.startswith(root + "/"):
                return root, path[len(root):].strip("/")
        parts = path.split("/")
        # walk up: the manifest lives at the collection root
        for i in range(len(parts), 2, -1):
            root = "/".join(parts[:i])
            if self._head(
                    f"{root}/{HTTP_MANIFEST_RELPATH}") is not None:
                return root, "/".join(parts[i:])
        raise StoreError(f"no published manifest above {path}")

    def localize(self, root: str,
                 relpaths: "list[str] | None" = None) -> str:
        """ETag-validated local mirror of the manifest-listed files
        under ``relpaths`` (all partitions when None) — same contract
        as ``S3FS.localize``, driven by the manifest instead of LIST.

        The manifest generation is validated against the LIVE catalog
        (one extra small GET): a publisher that commits new partitions
        but forgets to re-run ``write_manifest()`` would otherwise make
        replaced partitions read as silently EMPTY (their old file
        names 404 and get purged from the mirror) — stale metadata must
        be a loud error, not quiet data loss."""
        doc = self._manifest_doc(root)
        files = dict(doc.get("files", {}))
        base = root.rstrip("/")
        # "_catalog/state.json" is the stable on-disk catalog name
        # (collection/catalog.py CATALOG_RELPATH; not imported to keep
        # fs.py free of collection-layer imports)
        state, _ = self.read_versioned(f"{base}/_catalog/state.json")
        if state is not None and "generation" in doc:
            try:
                live_gen = int(json.loads(state).get("generation", 0))
            except ValueError:
                live_gen = None
            if live_gen is not None \
                    and int(doc["generation"]) != live_gen:
                # our CACHED manifest may be the stale side (the
                # Last-Modified token has 1 s granularity): drop the
                # cache and re-GET once before declaring staleness
                self._manifests.pop(root, None)
                doc = self._manifest_doc(root)
                files = dict(doc.get("files", {}))
            if live_gen is not None \
                    and int(doc.get("generation", live_gen)) != live_gen:
                raise StoreError(
                    f"stale manifest at {base}: manifest generation "
                    f"{doc['generation']} != catalog generation "
                    f"{live_gen} — re-run Collection.write_manifest() "
                    f"after every publish")
        mirror = os.path.join(
            self._scratch_root, "r",
            hashlib.sha256(base.encode()).hexdigest()[:16])
        wanted = list(files) if relpaths is None else relpaths
        for rel in wanted:
            seen = set()
            for fname in files.get(rel, []):
                krel = f"{rel}/{fname}" if rel else fname
                url = f"{base}/{krel}"
                local = os.path.join(mirror, *krel.split("/"))
                headers = self._head(url)
                if headers is None:
                    # vanished remotely: drop from the mirror
                    if os.path.exists(local):
                        os.remove(local)
                        self._etags.pop(local, None)
                    continue
                seen.add(local)
                etag = self._version_token(headers)
                if etag and self._etags.get(local) == etag \
                        and os.path.exists(local):
                    continue
                os.makedirs(os.path.dirname(local), exist_ok=True)
                body, _ = self._get(url)
                with open(local, "wb") as fh:
                    fh.write(body)
                if etag:
                    self._etags[local] = etag
            # purge mirror files the manifest no longer lists
            _purge_mirror(mirror, rel, seen, self._etags)
        return mirror

    # -- writes: refused ------------------------------------------------
    def _read_only(self, *_args, **_kwargs):
        raise ReadOnlyError(
            "HTTP(S) stores are read-only: publish from a writable "
            "store (local/S3/HDFS) and serve the files statically")

    write_text = write_bytes = write_if = delete = move_file = \
        copy_file = rename = upload_tree = new_scratch_dir = _read_only


_HTTP_FS = None
_HTTP_FS_LOCK = threading.Lock()


#: One S3FS per (endpoint, region, credential) — the client, the
#: scratch root, and the ETag-validated localize mirror are all
#: reusable; a fresh instance per fs_for call would re-download every
#: mirrored object for each Collection handle on the same store.
_S3_CACHE: dict = {}
_S3_CACHE_LOCK = threading.Lock()


def msi_token_provider(resource: str = "https://storage.azure.com/",
                       endpoint: str | None = None,
                       api_version: str = "2018-02-01"):
    """Token provider speaking the documented Azure Instance Metadata
    Service (IMDS) managed-identity endpoint: a GET to
    ``http://169.254.169.254/metadata/identity/oauth2/token`` with the
    ``Metadata: true`` header returns ``{"access_token", "expires_on"}``
    for the VM/pod's assigned identity — no secret ever touches the
    process.  ``AZURE_MSI_ENDPOINT`` (or ``endpoint``) overrides the
    address for App-Service-style deployments and tests.

    Returns a callable ``() -> (token, expires_on_epoch)`` suitable for
    :class:`AzureBlobFS`'s ``token_provider``; the client caches the
    token and re-invokes 5 minutes before expiry or on a 401.
    """
    import json as _json
    import urllib.request
    from urllib.parse import urlencode
    base = (endpoint or os.environ.get("AZURE_MSI_ENDPOINT")
            or "http://169.254.169.254/metadata/identity/oauth2/token")

    def provider():
        query = urlencode({"api-version": api_version,
                           "resource": resource})
        req = urllib.request.Request(f"{base}?{query}",
                                     headers={"Metadata": "true"})
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                doc = _json.loads(resp.read())
            return doc["access_token"], float(doc.get("expires_on", 0))
        except Exception as exc:
            raise StoreError(
                f"managed-identity token fetch failed at {base}: "
                f"{exc}") from exc

    return provider


class _RestObjectStoreFS(_ObjectStoreFS):
    """The urllib REST backends' shared half (:class:`AzureBlobFS`,
    :class:`GcsFS`): OAuth bearer tokens, the retrying transport
    (:func:`http_request`) and the object GET/DELETE primitives over a
    backend ``_request(method, bucket, key, params, headers, body)``
    that addresses one object (or, with an empty key, the bucket)."""

    #: URL scheme of the backend's paths (messages only)
    _SCHEME = ""
    #: response header carrying an object's version token
    _VERSION_HEADER = ""
    #: query parameters selecting an object's bytes
    _MEDIA: dict = {}
    #: env var of the static bearer token (messages only)
    _BEARER_ENV = ""

    def _bearer_token(self, force_refresh: bool = False) -> str:
        """Current OAuth access token; provider-backed tokens refresh
        lazily 5 minutes before expiry (and immediately on a 401)."""
        import time
        if self._token_provider is not None and (
                force_refresh or self._bearer is None
                or (self._bearer_exp is not None
                    and time.time() > self._bearer_exp - 300)):
            token, expires = self._token_provider()
            self._bearer = str(token)
            self._bearer_exp = float(expires) if expires else None
        if not self._bearer:
            raise StoreError(
                f"{type(self).__name__} bearer auth has no token "
                f"(provider returned nothing and {self._BEARER_ENV} "
                f"is unset)")
        return self._bearer

    def _auth_mode(self) -> str:
        return "bearer"

    def _send(self, method: str, url: str, headers: dict | None = None,
              body: bytes | None = None, authorize=None,
              what: str | None = None):
        """One authorized request through :func:`http_request` →
        ``(status, headers, body)``; bearer auth unless ``authorize``
        signs the request itself.  401/403 raise a credentials
        :class:`StoreError`; an unreachable endpoint raises one too."""
        import urllib.error
        headers = dict(headers or {})
        if body is not None:
            # urllib injects a default Content-Type on bodied requests
            # AFTER signing — set it explicitly so the signed value and
            # the sent value agree
            headers.setdefault("Content-Type", "application/octet-stream")
        if authorize is None:
            def authorize(hdrs):
                hdrs["Authorization"] = f"Bearer {self._bearer_token()}"
        refresh = None
        if self._token_provider is not None:
            def refresh():
                self._bearer_token(force_refresh=True)
        what = what or f"{method} {url.split('?')[0]}"
        try:
            return http_request(
                method, url, headers, body, authorize=authorize,
                refresh=refresh,
                denied=lambda status: StoreError(
                    f"{what} returned {status} under "
                    f"{self._auth_mode()} auth: check the credentials "
                    f"(signature, token expiry, scopes or "
                    f"permissions)"))
        except urllib.error.URLError as exc:
            raise StoreError(f"{type(self).__name__} endpoint "
                             f"unreachable: {self._endpoint}: {exc}") \
                from None

    def _fetch(self, bucket: str, key: str, headers: dict | None = None):
        """An object's bytes, status unmapped → ``(status, headers,
        body)``; ``_get`` and ``_get_range`` map the statuses."""
        return self._request("GET", bucket, key, self._MEDIA, headers)

    def _get(self, bucket: str, key: str):
        self.api_counts["get"] += 1
        status, hdrs, body = self._fetch(bucket, key)
        if status == 404:
            return None
        if status >= 400:
            raise StoreError(
                f"GET {self._SCHEME}://{bucket}/{key} failed: {status}")
        return body, hdrs.get(self._VERSION_HEADER)

    def _get_range(self, bucket: str, key: str, offset: "int | None",
                   nbytes: int):
        self.api_counts["get"] += 1
        status, _, body = self._fetch(
            bucket, key, {"Range": _range_header(offset, nbytes)})
        if status == 404:
            return None
        if status >= 400 and status != 416:
            raise StoreError(f"ranged GET {self._SCHEME}://{bucket}/{key} "
                             f"failed: {status}")
        return _range_body(status, body, offset, nbytes)

    def _delete_keys(self, bucket: str, keys: list[str]) -> None:
        for key in keys:
            self.api_counts["delete"] += 1
            status, _, _ = self._request("DELETE", bucket, key)
            if status >= 400 and status != 404:
                raise StoreError(f"DELETE {self._SCHEME}://{bucket}/{key} "
                                 f"failed: {status}")


class AzureBlobFS(_RestObjectStoreFS):
    """Azure Blob Storage backend speaking the public Blob REST API
    directly (urllib + SharedKey request signing — no SDK dependency;
    the auth scheme and the canonical string-to-sign are the documented
    public protocol).  Closes the last untested store scheme: the
    reference speaks ``az://`` via obstore
    (``/root/reference/zcollection/store/obstore_store.py:27``,
    ``store/factory.py:22-79``).

    The shared contract and its two planes are documented on
    :class:`_ObjectStoreFS`.  The primitives here: HEAD = Get Blob
    Properties, GET/PUT/DELETE blob, List Blobs
    (``restype=container&comp=list`` with prefix/delimiter,
    marker-paginated), Copy Blob (``x-ms-copy-source``) + Delete for
    the rename fiction, and a TRUE server-side compare-and-swap via
    conditional PUT (``If-Match`` / ``If-None-Match: *`` — Azure ETags).
    Without ``hadoop-azure`` on the cluster, bulk I/O takes the scratch
    bridge exactly like S3.  Copy Blob is synchronous within an account
    for block blobs; a ``pending`` copy status raises rather than
    silently losing the move.

    Configuration (env or constructor): ``AZURE_STORAGE_ACCOUNT`` plus
    ONE of ``AZURE_STORAGE_KEY`` (base64 account key → SharedKey
    header signing) or ``AZURE_STORAGE_SAS_TOKEN`` (a SAS query
    string → query-parameter auth, the scoped/expiring grant;
    :meth:`generate_container_sas` mints one from an account key);
    optional ``AZURE_BLOB_ENDPOINT`` (Azurite-style
    ``http://host:port/account``; defaults to
    ``https://{account}.blob.core.windows.net``).  Paths are
    ``az://container/key...``.
    """

    _API_VERSION = "2021-08-06"
    _SCHEME = "az"
    _VERSION_HEADER = "ETag"
    _BEARER_ENV = "AZURE_STORAGE_BEARER_TOKEN"

    def __init__(self, account: str | None = None,
                 key: str | None = None,
                 endpoint: str | None = None,
                 scratch_dir: str | None = None,
                 sas_token: str | None = None,
                 bearer_token: str | None = None,
                 token_provider=None):
        from urllib.parse import parse_qsl
        self.account = account or os.environ["AZURE_STORAGE_ACCOUNT"]
        raw, sas, bearer = key or None, sas_token or None, \
            bearer_token or None
        if raw is None and sas is None and bearer is None \
                and token_provider is None:  # explicit args beat env
            raw = os.environ.get("AZURE_STORAGE_KEY")
            sas = os.environ.get("AZURE_STORAGE_SAS_TOKEN")
            bearer = os.environ.get("AZURE_STORAGE_BEARER_TOKEN")
        import base64
        # three auth modes, account key preferred: SharedKey header
        # signing when the key is present, else SAS query-parameter
        # auth (the most common real-world Azure grant — a scoped,
        # expiring token minted by the account owner; the client just
        # appends it, servers verify), else AAD/MSI BEARER tokens
        # (``Authorization: Bearer`` — the OAuth grant every
        # role-assignment deployment uses; ``token_provider``, e.g.
        # :func:`msi_token_provider`, refreshes expiring tokens).
        # Blob Range reads, conditional PUT CAS and Copy Blob all work
        # identically under SAS because the params ride every URL,
        # including x-ms-copy-source; under bearer auth Copy Blob
        # carries ``x-ms-copy-source-authorization`` instead.
        self._bearer = None
        self._bearer_exp: "float | None" = None
        self._token_provider = None
        if raw:
            self._key = base64.b64decode(raw)
            self._sas: dict | None = None
        elif sas:
            self._key = None
            self._sas = dict(parse_qsl(sas.lstrip("?"),
                                       keep_blank_values=True))
        elif bearer or token_provider is not None:
            self._key = None
            self._sas = None
            self._bearer = bearer
            self._token_provider = token_provider
        else:
            raise KeyError(
                "AzureBlobFS needs AZURE_STORAGE_KEY, "
                "AZURE_STORAGE_SAS_TOKEN or AZURE_STORAGE_BEARER_TOKEN "
                "(or constructor equivalents)")
        self._endpoint = (endpoint
                          or os.environ.get("AZURE_BLOB_ENDPOINT")
                          or f"https://{self.account}"
                          f".blob.core.windows.net").rstrip("/")
        super().__init__(scratch_dir, "zcaz")

    # -- signing helpers -------------------------------------------------
    def _url(self, container: str, key: str, params: dict) -> str:
        from urllib.parse import quote, urlencode
        url = f"{self._endpoint}/{container}"
        if key:
            url += "/" + quote(key)
        if self._sas:  # SAS auth rides every URL as query parameters
            params = {**params, **self._sas}
        if params:
            url += "?" + urlencode(sorted(params.items()))
        return url

    def _authorization(self, method: str, container: str, key: str,
                       params: dict, headers: dict,
                       body: bytes | None) -> str:
        """SharedKey signature (the documented public algorithm): HMAC
        over VERB, the standard header slots, canonicalized ``x-ms-*``
        headers, and the canonicalized resource incl. query params."""
        import base64
        import hmac
        length = str(len(body)) if body else ""  # "" for 0 since 2015
        std = [headers.get("Content-Encoding", ""),
               headers.get("Content-Language", ""),
               length,
               headers.get("Content-MD5", ""),
               headers.get("Content-Type", ""),
               "",  # Date: x-ms-date is set instead
               headers.get("If-Modified-Since", ""),
               headers.get("If-Match", ""),
               headers.get("If-None-Match", ""),
               headers.get("If-Unmodified-Since", ""),
               headers.get("Range", "")]
        canon_headers = "".join(
            f"{name.lower()}:{value}\n" for name, value in sorted(
                (n.lower(), v) for n, v in headers.items()
                if n.lower().startswith("x-ms-")))
        # Azure builds the string-to-sign from the percent-ENCODED URI
        # path exactly as sent on the wire (same quote() as _url) —
        # signing the decoded key 403s on any blob containing '='/space
        # (i.e. every hive partition path like num=1).
        from urllib.parse import quote
        resource = f"/{self.account}/{container}"
        if key:
            resource += f"/{quote(key)}"
        canon_resource = resource + "".join(
            f"\n{n.lower()}:{v}" for n, v in sorted(params.items()))
        to_sign = "\n".join([method] + std) + "\n" \
            + canon_headers + canon_resource
        sig = base64.b64encode(hmac.new(
            self._key, to_sign.encode("utf-8"),
            hashlib.sha256).digest()).decode()
        return f"SharedKey {self.account}:{sig}"

    @staticmethod
    def generate_container_sas(account: str, key_b64: str,
                               container: str, *,
                               permissions: str = "racwdl",
                               expiry: str, start: str = "",
                               version: str = "2021-08-06") -> str:
        """Mint a SERVICE SAS scoped to one container — the documented
        public algorithm (16-field string-to-sign of the 2020-12-06+
        versions, HMAC-SHA256 under the account key,
        canonicalized resource ``/blob/{account}/{container}``).

        ``expiry``/``start`` are ISO-8601 UTC (``2026-01-01T00:00:00Z``);
        ``permissions`` uses the standard letters (r=read, a=add,
        c=create, w=write, d=delete, l=list) in canonical order.
        Returns the query-string token (``sv=...&sp=...&sig=...``) that
        :class:`AzureBlobFS` accepts as ``sas_token`` — how an account
        owner grants a pipeline scoped, expiring access without ever
        sharing the account key.
        """
        import base64
        import hmac
        from urllib.parse import urlencode
        # Azure requires the permission letters in THE canonical order
        # (racwdxyltmeop...) inside the signed string — normalize here
        # so generate(permissions="wr") signs (and works) as "rw" would
        canon = "racwdxyltmeop"
        if not set(permissions) <= set(canon):
            raise ValueError(f"unknown SAS permission letters in "
                             f"{permissions!r} (allowed: {canon})")
        permissions = "".join(ch for ch in canon if ch in permissions)
        key = base64.b64decode(key_b64)
        resource = f"/blob/{account}/{container}"
        to_sign = "\n".join([
            permissions, start, expiry, resource,
            "",       # signedIdentifier (stored access policy)
            "",       # signedIP
            "",       # signedProtocol
            version,
            "c",      # signedResource: container
            "",       # signedSnapshotTime
            "",       # signedEncryptionScope
            "", "", "", "", ""])  # rscc rscd rsce rscl rsct
        sig = base64.b64encode(hmac.new(
            key, to_sign.encode("utf-8"), hashlib.sha256).digest()
        ).decode()
        q = {"sv": version, "sp": permissions, "se": expiry,
             "sr": "c", "sig": sig}
        if start:
            q["st"] = start
        return urlencode(q)

    def _auth_mode(self) -> str:
        return ("SharedKey" if self._key is not None else
                "SAS" if self._sas is not None else "bearer")

    def _request(self, method: str, container: str, key: str,
                 params: dict | None = None,
                 headers: dict | None = None,
                 body: bytes | None = None):
        """Signed request → ``(status, headers, body)``; 404/"absent"
        mapping is per-operation (the ``_head`` rule: ONLY a real 404
        may read as absent)."""
        import email.utils
        params = dict(params or {})
        headers = dict(headers or {})
        headers.setdefault("x-ms-date",
                           email.utils.formatdate(usegmt=True))
        headers.setdefault("x-ms-version", self._API_VERSION)

        def authorize(hdrs):
            if self._key is not None:
                hdrs["Authorization"] = self._authorization(
                    method, container, key, params, hdrs, body)
            elif self._sas is None:  # bearer (AAD/MSI) mode
                hdrs["Authorization"] = f"Bearer {self._bearer_token()}"

        return self._send(method, self._url(container, key, params),
                          headers, body, authorize,
                          what=f"{method} az://{container}/{key}")

    # -- primitives -----------------------------------------------------
    def _head(self, container: str, key: str):
        self.api_counts["head"] += 1
        status, hdrs, _ = self._request("HEAD", container, key)
        if status == 404:
            return None
        if status >= 400:
            raise StoreError(
                f"HEAD az://{container}/{key} failed: {status}")
        return hdrs

    def mtime(self, path: str) -> "float | None":
        import email.utils
        lm = (self._head(*self._bk(path)) or {}).get("Last-Modified")
        if not lm:
            return None
        try:
            return email.utils.parsedate_to_datetime(lm).timestamp()
        except (TypeError, ValueError):
            return None

    def _list_page(self, container: str, prefix: str,
                   delimiter: str | None = None,
                   token: str | None = None, limit: int | None = None):
        import xml.etree.ElementTree as ET
        self.api_counts["list"] += 1
        params = {"restype": "container", "comp": "list",
                  "prefix": prefix}
        if delimiter:
            params["delimiter"] = delimiter
        if token:
            params["marker"] = token
        if limit:
            params["maxresults"] = str(limit)
        status, _, body = self._request("GET", container, "", params)
        if status >= 400:
            raise StoreError(
                f"LIST az://{container} ({prefix!r}) failed: {status}")
        root = ET.fromstring(body.decode("utf-8"))
        blobs = [(b.findtext("Name"),
                  b.findtext("Properties/Etag") or "",
                  int(b.findtext("Properties/Content-Length") or 0))
                 for b in root.iter("Blob")]
        prefixes = [p.findtext("Name") for p in root.iter("BlobPrefix")]
        return blobs, prefixes, (root.findtext("NextMarker") or None)

    def _put(self, container: str, key: str, data: bytes) -> None:
        self.api_counts["put"] += 1
        status, _, _ = self._request(
            "PUT", container, key,
            headers={"x-ms-blob-type": "BlockBlob"}, body=data)
        if status >= 400:
            raise StoreError(
                f"PUT az://{container}/{key} failed: {status}")

    def _put_if(self, container: str, key: str, data: bytes,
                token: str | None) -> str:
        """Azure honors ``If-Match`` (update) and ``If-None-Match: *``
        (create-only) on Put Blob; the losing writer gets 412 (or 409
        BlobAlreadyExists for the create case)."""
        cond = ({"If-None-Match": "*"} if token is None
                else {"If-Match": token})
        cond["x-ms-blob-type"] = "BlockBlob"
        self.api_counts["put"] += 1
        status, hdrs, _ = self._request("PUT", container, key,
                                        headers=cond, body=data)
        if status in (409, 412):
            raise CommitConflictError(str(status))
        if status >= 400:
            raise StoreError(f"conditional PUT az://{container}/{key} "
                             f"failed: {status}")
        return hdrs.get("ETag")

    def _copy_key(self, sc: str, sk: str, dc: str, dk: str,
                  listed: bool = False) -> bool:
        """HEAD (unless just listed), then one Copy Blob — same or
        cross container."""
        if not listed and self._head(sc, sk) is None:
            return False
        self.api_counts["copy"] += 1
        copy_headers = {"x-ms-copy-source": self._url(sc, sk, {})}
        if self._key is None and self._sas is None:
            # bearer mode: the source URL carries no auth (unlike SAS,
            # where the token rides x-ms-copy-source too) — the
            # documented header authorizes the source read instead
            copy_headers["x-ms-copy-source-authorization"] = \
                f"Bearer {self._bearer_token()}"
        status, hdrs, _ = self._request("PUT", dc, dk,
                                        headers=copy_headers)
        if status >= 400:
            raise StoreError(f"COPY az://{sc}/{sk} -> az://{dc}/{dk} "
                             f"failed: {status}")
        if hdrs.get("x-ms-copy-status", "success") != "success":
            # block-blob copies within an account are synchronous; a
            # pending status here would mean a move's source delete
            # could race the copy — fail loudly instead
            raise StoreError(
                f"COPY az://{sc}/{sk} not synchronous "
                f"(status {hdrs.get('x-ms-copy-status')})")
        return True


#: One AzureBlobFS per (endpoint, account, key) — same reuse rationale
#: as ``_S3_CACHE``.
_AZ_CACHE: dict = {}
_AZ_CACHE_LOCK = threading.Lock()


def gce_metadata_token_provider(endpoint: str | None = None,
                                service_account: str = "default"):
    """Token provider speaking the documented GCE metadata server: a GET
    to ``http://metadata.google.internal/computeMetadata/v1/instance/
    service-accounts/{sa}/token`` with the ``Metadata-Flavor: Google``
    header returns ``{"access_token", "expires_in"}`` for the VM/pod's
    attached service account — the GCS twin of :func:`msi_token_provider`
    (same shape, but ``expires_in`` is a TTL in SECONDS where Azure's
    IMDS returns an ``expires_on`` epoch).  ``GCE_METADATA_ENDPOINT``
    (or ``endpoint``) overrides the address for tests and proxies.

    Returns a callable ``() -> (token, expires_at_epoch)`` suitable for
    :class:`GcsFS`'s ``token_provider``; the client caches the token and
    re-invokes 5 minutes before expiry or on a 401.
    """
    import json as _json
    import time as _time
    import urllib.request
    base = (endpoint or os.environ.get("GCE_METADATA_ENDPOINT")
            or "http://metadata.google.internal").rstrip("/")
    url = (f"{base}/computeMetadata/v1/instance/service-accounts/"
           f"{service_account}/token")

    def provider():
        req = urllib.request.Request(
            url, headers={"Metadata-Flavor": "Google"})
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                doc = _json.loads(resp.read())
            # a missing/zero expires_in must mean "no known expiry"
            # (expiry None -> the 401 path handles real expiry), NOT
            # "already expired": time.time()+0 combined with the
            # 5-minute early-refresh window would re-fetch a token
            # from the metadata server on EVERY request
            ttl = float(doc.get("expires_in") or 0)
            return (doc["access_token"],
                    _time.time() + ttl if ttl > 0 else None)
        except Exception as exc:
            raise StoreError(
                f"GCE metadata token fetch failed at {url}: "
                f"{exc}") from exc

    return provider


def _der_tlv(buf: bytes, pos: int) -> tuple[int, bytes, int]:
    """One DER TLV: ``(tag, value, next_pos)`` — the minimal ASN.1
    walk an RSA keyfile needs (definite lengths only, which is all DER
    permits)."""
    tag = buf[pos]
    ln = buf[pos + 1]
    pos += 2
    if ln & 0x80:
        nbytes = ln & 0x7F
        ln = int.from_bytes(buf[pos:pos + nbytes], "big")
        pos += nbytes
    return tag, buf[pos:pos + ln], pos + ln


def _pem_rsa_private_numbers(pem: str) -> tuple[int, int, int]:
    """``(n, e, d)`` from a PEM RSA private key — PKCS#8
    (``BEGIN PRIVATE KEY``, what Google service-account keyfiles
    carry) or PKCS#1 (``BEGIN RSA PRIVATE KEY``).  Hand-built DER
    parse, no dependency — the same discipline as the Azure SharedKey
    signer (this module signs, it does not import a crypto SDK)."""
    import base64 as _b64
    import re as _re
    m = _re.search(
        r"-----BEGIN (RSA )?PRIVATE KEY-----(.*?)-----END",
        pem, _re.S)
    if not m:
        raise StoreError("keyfile private_key is not a PEM private key")
    der = _b64.b64decode("".join(m.group(2).split()))
    tag, body, _ = _der_tlv(der, 0)
    if tag != 0x30:
        raise StoreError("keyfile DER does not start with a SEQUENCE")
    if m.group(1) is None:
        # PKCS#8 PrivateKeyInfo: version INT, algorithm SEQ, OCTET
        # STRING wrapping the PKCS#1 RSAPrivateKey
        pos = 0
        _, _, pos = _der_tlv(body, pos)           # version
        _, _, pos = _der_tlv(body, pos)           # AlgorithmIdentifier
        tag, inner, _ = _der_tlv(body, pos)       # privateKey
        if tag != 0x04:
            raise StoreError("PKCS#8 privateKey is not an OCTET STRING")
        tag, body, _ = _der_tlv(inner, 0)
        if tag != 0x30:
            raise StoreError("inner PKCS#1 key is not a SEQUENCE")
    # PKCS#1 RSAPrivateKey: version, n, e, d, p, q, dP, dQ, qInv
    pos = 0
    ints = []
    while pos < len(body) and len(ints) < 4:
        tag, val, pos = _der_tlv(body, pos)
        if tag != 0x02:
            raise StoreError("RSAPrivateKey field is not an INTEGER")
        ints.append(int.from_bytes(val, "big"))
    if len(ints) < 4:
        raise StoreError("RSAPrivateKey is truncated")
    _, n, e, d = ints
    return n, e, d


def _rs256_sign(message: bytes, n: int, d: int) -> bytes:
    """RSASSA-PKCS1-v1_5 over SHA-256 (RFC 8017 §8.2): EMSA encode
    (0x00 0x01 PS 0x00 DigestInfo‖hash) then one modular
    exponentiation with the private exponent."""
    h = hashlib.sha256(message).digest()
    # DigestInfo for SHA-256 (RFC 8017 §9.2 note 1)
    prefix = bytes.fromhex(
        "3031300d060960864801650304020105000420")
    k = (n.bit_length() + 7) // 8
    pad = k - len(prefix) - len(h) - 3
    if pad < 8:
        raise StoreError("RSA modulus too small for RS256")
    em = b"\x00\x01" + b"\xff" * pad + b"\x00" + prefix + h
    return pow(int.from_bytes(em, "big"), d, n).to_bytes(k, "big")


def gcs_keyfile_token_provider(
        keyfile: "str | dict | None" = None,
        token_uri: str | None = None,
        scope: str = "https://www.googleapis.com/auth/devstorage"
                     ".read_write"):
    """Token provider for the service-account JSON **keyfile** grant —
    the first auth mode users OUTSIDE GCE hit (no metadata server to
    ask): RS256-sign a JWT assertion with the keyfile's private key
    (pure-python RSA — :func:`_rs256_sign`, same hand-built discipline
    as the Azure SharedKey signer), POST it to the keyfile's
    ``token_uri`` as the documented
    ``urn:ietf:params:oauth:grant-type:jwt-bearer`` grant, and return
    the minted access token.  The reference gets this mode free via
    obstore (``/root/reference/zcollection/store/obstore_store.py:27``).

    ``keyfile`` is a path or the parsed dict; defaults to the
    ``GCS_KEYFILE`` env var (the usual
    ``GOOGLE_APPLICATION_CREDENTIALS`` shape).  ``token_uri``
    overrides the keyfile's own (tests point it at the emulator).

    Returns ``() -> (token, expires_at_epoch)`` for
    :class:`GcsFS`'s ``token_provider`` — cached by the client,
    re-invoked 5 minutes before expiry or on a 401.
    """
    import base64 as _b64
    import json as _json
    import time as _time
    import urllib.request
    from urllib.parse import urlencode
    if keyfile is None:
        keyfile = os.environ.get("GCS_KEYFILE")
    keyfile_path = keyfile if isinstance(keyfile, str) else None

    def _load(source) -> tuple[str, int, int, str]:
        if isinstance(source, str):
            with open(source, encoding="utf-8") as fh:
                source = _json.load(fh)
        if not isinstance(source, dict):
            raise StoreError("gcs_keyfile_token_provider needs a "
                             "keyfile path/dict (or GCS_KEYFILE set)")
        n, _, d = _pem_rsa_private_numbers(source["private_key"])
        return (source["client_email"], n, d,
                token_uri or source.get("token_uri")
                or "https://oauth2.googleapis.com/token")

    # parse eagerly so a bad keyfile fails at construction, not at the
    # first store op deep inside a publish
    email, n, d, aud = _load(keyfile)

    def _b64url(raw: bytes) -> bytes:
        return _b64.urlsafe_b64encode(raw).rstrip(b"=")

    last_good = [email, n, d, aud]

    def provider():
        # path-backed keyfiles are RE-READ per grant: standard GCP key
        # rotation swaps the file contents in place, and a provider
        # pinned to the construction-time key would sign every refresh
        # with a revoked key forever (grants are rare — pre-expiry or
        # 401 — so the re-read costs nothing measurable).  An
        # unreadable/half-swapped file falls back to the LAST-GOOD
        # parsed key (short-lived secret mounts, mid-rotation writes):
        # a still-valid old key keeps working, a revoked one fails the
        # grant with the normal loud StoreError.
        if keyfile_path is not None:
            try:
                last_good[:] = _load(keyfile_path)
            except Exception:
                pass
        email_, n_, d_, aud_ = last_good
        iat = int(_time.time())
        header = _b64url(_json.dumps(
            {"alg": "RS256", "typ": "JWT"}).encode())
        claims = _b64url(_json.dumps(
            {"iss": email_, "scope": scope, "aud": aud_,
             "iat": iat, "exp": iat + 3600}).encode())
        signing_input = header + b"." + claims
        assertion = (signing_input + b"."
                     + _b64url(_rs256_sign(signing_input, n_, d_)))
        body = urlencode({
            "grant_type": "urn:ietf:params:oauth:grant-type:jwt-bearer",
            "assertion": assertion.decode()}).encode()
        req = urllib.request.Request(
            aud_, data=body, method="POST",
            headers={"Content-Type":
                     "application/x-www-form-urlencoded"})
        try:
            with urllib.request.urlopen(req, timeout=10) as resp:
                doc = _json.loads(resp.read())
            ttl = float(doc.get("expires_in") or 0)
            return (doc["access_token"],
                    _time.time() + ttl if ttl > 0 else None)
        except Exception as exc:
            raise StoreError(
                f"service-account JWT grant failed at {aud_} "
                f"(iss={email_}): {exc}") from exc

    return provider


class GcsFS(_RestObjectStoreFS):
    """Google Cloud Storage backend speaking the public JSON API
    directly (urllib + OAuth2 ``Authorization: Bearer`` — no SDK
    dependency), closing the gs:// auth gap: the S3-interop path below
    covers HMAC keys only, while real GCS deployments overwhelmingly
    grant access through SERVICE ACCOUNTS (attached identities /
    workload identity), whose credential is an OAuth2 access token.
    The reference gets every GCS auth mode via obstore
    (``/root/reference/zcollection/store/obstore_store.py:27``,
    ``store/factory.py:22-79``); this class is the az AAD/MSI bearer
    pattern (:class:`AzureBlobFS`, :func:`msi_token_provider`) cloned
    onto GCS's documented endpoints.

    The shared contract and its two planes are documented on
    :class:`_ObjectStoreFS`.  The primitives here: objects
    get/insert/delete, metadata GET, media GET (``?alt=media``),
    Objects: list (prefix/delimiter, ``pageToken``-paginated), Objects:
    rewrite + delete for the rename fiction, and TRUE server-side
    compare-and-swap via generation preconditions
    (``ifGenerationMatch`` — 0 is create-if-absent, a generation number
    is the documented CAS; losers get 412).  Without the gcs-connector
    on the cluster, bulk I/O takes the generation-validated scratch
    bridge exactly like S3 and az.

    Configuration (env or constructor): ``GCS_BEARER_TOKEN`` (a static
    OAuth2 access token), ``GCS_KEYFILE`` (a service-account keyfile,
    :func:`gcs_keyfile_token_provider`) or ``GCE_METADATA_ENDPOINT``
    (provider-backed tokens with automatic refresh via
    :func:`gce_metadata_token_provider`); optional ``GCS_JSON_ENDPOINT``
    (fake-gcs-server-style ``http://host:port``; defaults to
    ``https://storage.googleapis.com``).  Paths are ``gs://bucket/key``.
    """

    _SCHEME = "gs"
    _VERSION_HEADER = "x-goog-generation"
    _MEDIA = {"alt": "media"}
    _BEARER_ENV = "GCS_BEARER_TOKEN"

    def __init__(self, endpoint: str | None = None,
                 scratch_dir: str | None = None,
                 bearer_token: str | None = None,
                 token_provider=None):
        bearer = bearer_token or None
        if bearer is None and token_provider is None:
            bearer = os.environ.get("GCS_BEARER_TOKEN")
            if bearer is None and os.environ.get("GCS_KEYFILE"):
                token_provider = gcs_keyfile_token_provider()
            elif bearer is None \
                    and os.environ.get("GCE_METADATA_ENDPOINT"):
                token_provider = gce_metadata_token_provider()
        if bearer is None and token_provider is None:
            raise KeyError(
                "GcsFS needs GCS_BEARER_TOKEN, GCS_KEYFILE or "
                "GCE_METADATA_ENDPOINT (or constructor equivalents); "
                "for HMAC interop keys use the gs:// S3-interop path "
                "instead")
        self._bearer = bearer
        self._bearer_exp: "float | None" = None
        self._token_provider = token_provider
        self._endpoint = (endpoint
                          or os.environ.get("GCS_JSON_ENDPOINT")
                          or "https://storage.googleapis.com").rstrip("/")
        super().__init__(scratch_dir, "zcgs")

    # -- request helpers -------------------------------------------------
    def _obj_url(self, bucket: str, key: str,
                 params: dict | None = None) -> str:
        from urllib.parse import quote, urlencode
        url = f"{self._endpoint}/storage/v1/b/{bucket}/o"
        if key:
            # the JSON API wants the object name as ONE path segment:
            # slashes percent-encoded (safe=""), unlike XML/S3 paths
            url += "/" + quote(key, safe="")
        if params:
            url += "?" + urlencode(sorted(params.items()))
        return url

    def _request(self, method: str, bucket: str, key: str,
                 params: dict | None = None,
                 headers: dict | None = None,
                 body: bytes | None = None):
        """Bearer-authorized object (or, with an empty key, bucket)
        request → ``(status, headers, body)``."""
        return self._send(method, self._obj_url(bucket, key, params),
                          headers, body)

    def _upload(self, bucket: str, key: str, data: bytes,
                extra_params: dict | None = None):
        from urllib.parse import urlencode
        params = {"uploadType": "media", "name": key}
        params.update(extra_params or {})
        url = (f"{self._endpoint}/upload/storage/v1/b/{bucket}/o?"
               + urlencode(sorted(params.items())))
        return self._send("POST", url, body=data)

    # -- primitives -----------------------------------------------------
    def _head(self, bucket: str, key: str) -> "dict | None":
        self.api_counts["head"] += 1
        status, _, body = self._request("GET", bucket, key)
        if status == 404:
            return None
        if status >= 400:
            raise StoreError(
                f"GET metadata gs://{bucket}/{key} failed: {status}")
        return json.loads(body)

    def mtime(self, path: str) -> "float | None":
        import datetime
        updated = (self._head(*self._bk(path)) or {}).get("updated")
        if not updated:
            return None
        try:
            return datetime.datetime.fromisoformat(
                updated.replace("Z", "+00:00")).timestamp()
        except ValueError:
            return None

    def _list_page(self, bucket: str, prefix: str,
                   delimiter: str | None = None,
                   token: str | None = None, limit: int | None = None):
        self.api_counts["list"] += 1
        params = {"prefix": prefix}
        if delimiter:
            params["delimiter"] = delimiter
        if token:
            params["pageToken"] = token
        if limit:
            params["maxResults"] = str(limit)
        status, _, body = self._request("GET", bucket, "", params)
        if status >= 400:
            raise StoreError(
                f"LIST gs://{bucket} ({prefix!r}) failed: {status}")
        doc = json.loads(body)
        items = [(o["name"], o.get("generation", ""),
                  int(o.get("size", 0))) for o in doc.get("items", ())]
        return items, list(doc.get("prefixes", ())), \
            doc.get("nextPageToken")

    def _put(self, bucket: str, key: str, data: bytes) -> None:
        self.api_counts["put"] += 1
        status, _, _ = self._upload(bucket, key, data)
        if status >= 400:
            raise StoreError(f"PUT gs://{bucket}/{key} failed: {status}")

    def _put_if(self, bucket: str, key: str, data: bytes,
                token: str | None) -> str:
        """Generation preconditions — the documented GCS contract:
        ``ifGenerationMatch=0`` means create-only, a generation number
        means replace-exactly-this; the losing writer gets 412."""
        self.api_counts["put"] += 1
        status, _, body = self._upload(
            bucket, key, data,
            {"ifGenerationMatch": token if token is not None else "0"})
        if status == 412:
            raise CommitConflictError(str(status))
        if status >= 400:
            raise StoreError(f"conditional PUT gs://{bucket}/{key} "
                             f"failed: {status}")
        return json.loads(body).get("generation")

    def _copy_key(self, sb: str, sk: str, db: str, dk: str,
                  listed: bool = False) -> bool:
        """Metadata GET (unless just listed), then Objects: rewrite —
        the documented server-side copy.  Large objects may need
        several calls chained by ``rewriteToken``; loop until ``done``
        (single-call for the sizes catalogs move, but the protocol
        requires the loop)."""
        from urllib.parse import quote, urlencode
        if not listed and self._head(sb, sk) is None:
            return False
        self.api_counts["copy"] += 1
        rewrite_token = None
        while True:
            url = (f"{self._endpoint}/storage/v1/b/{sb}/o/"
                   f"{quote(sk, safe='')}/rewriteTo/b/{db}/o/"
                   f"{quote(dk, safe='')}")
            if rewrite_token:
                url += "?" + urlencode({"rewriteToken": rewrite_token})
            status, _, body = self._send("POST", url, body=b"")
            if status == 404:
                raise FileNotFoundError(f"gs://{sb}/{sk}")
            if status >= 400:
                raise StoreError(
                    f"REWRITE gs://{sb}/{sk} -> gs://{db}/{dk} "
                    f"failed: {status}")
            doc = json.loads(body)
            if doc.get("done", True):
                return True
            rewrite_token = doc.get("rewriteToken")


#: One GcsFS per (endpoint, credential) — same reuse rationale as
#: ``_S3_CACHE``.
_GCS_CACHE: dict = {}
_GCS_CACHE_LOCK = threading.Lock()


def resolve_fs(path: str, env, spark: SparkSession | None = None):
    """The store client for ``path`` under the env mapping ``env`` —
    the one credential resolver.  :func:`fs_for` passes this process's
    env; Spark tasks pass the driver's snapshot laid over theirs
    (:func:`task_fs`), so both sides route a path alike.  Clients are
    cached per endpoint and credential.  A non-local path that no
    Python client serves under ``env`` (a Hadoop-connector scheme, or
    az:// / gs:// without a credential) gets :class:`HadoopFS` when
    ``spark`` is given, else None."""
    if path.startswith("memory://"):
        return _MEMORY_FS
    scheme = scheme_of(path)
    if scheme in ("http", "https"):
        global _HTTP_FS
        with _HTTP_FS_LOCK:
            if _HTTP_FS is None:
                _HTTP_FS = HttpFS()
            return _HTTP_FS
    if scheme == "az":
        account = env.get("AZURE_STORAGE_ACCOUNT")
        azkey = env.get("AZURE_STORAGE_KEY")
        azsas = env.get("AZURE_STORAGE_SAS_TOKEN")
        azbearer = env.get("AZURE_STORAGE_BEARER_TOKEN")
        azmsi = env.get("AZURE_MSI_ENDPOINT")
        if account and (azkey or azsas or azbearer or azmsi):
            endpoint = (env.get("AZURE_BLOB_ENDPOINT")
                        or f"https://{account}.blob.core.windows.net")
            cred = hashlib.sha256(
                f"{account}\x00{azkey or ''}\x00{azsas or ''}"
                f"\x00{azbearer or ''}\x00{azmsi or ''}"
                .encode()).hexdigest()
            with _AZ_CACHE_LOCK:
                cache_key = (endpoint, cred)
                if cache_key not in _AZ_CACHE:
                    # MSI endpoint configured and no static credential
                    # wins: provider-backed bearer auth with automatic
                    # refresh
                    provider = (msi_token_provider(endpoint=azmsi)
                                if azmsi and not (azkey or azsas
                                                  or azbearer)
                                else None)
                    _AZ_CACHE[cache_key] = AzureBlobFS(
                        account, azkey, endpoint, sas_token=azsas,
                        bearer_token=azbearer, token_provider=provider)
                return _AZ_CACHE[cache_key]
        # no usable credential (no account key, SAS, bearer token or
        # MSI endpoint): fall through to the JVM hadoop-azure
        # connector (service-principal auth)
    if scheme == "gs" and not (env.get("GCS_ACCESS_KEY_ID")
                               and env.get("GCS_SECRET_ACCESS_KEY")):
        # the S3-interop surface needs the FULL HMAC pair — a partial
        # config (endpoint only, or key without secret) would sign
        # googleapis.com requests with ambient AWS credentials or die
        # with PartialCredentialsError.  No HMAC pair: try the NATIVE
        # service-account path (OAuth bearer against the JSON API —
        # the az AAD/MSI pattern) before surrendering to the JVM
        # gcs-connector
        gsbearer = env.get("GCS_BEARER_TOKEN")
        gskeyfile = env.get("GCS_KEYFILE")
        gsmeta = env.get("GCE_METADATA_ENDPOINT")
        if gsbearer or gskeyfile or gsmeta:
            endpoint = (env.get("GCS_JSON_ENDPOINT")
                        or "https://storage.googleapis.com")
            cred = hashlib.sha256(
                f"{gsbearer or ''}\x00{gskeyfile or ''}"
                f"\x00{gsmeta or ''}".encode()).hexdigest()
            with _GCS_CACHE_LOCK:
                cache_key = (endpoint, cred)
                if cache_key not in _GCS_CACHE:
                    # static token wins; then the JSON keyfile (JWT
                    # grant — the off-GCE mode); then the metadata
                    # server.  Both provider modes refresh
                    # automatically (pre-expiry + 401)
                    provider = None
                    if not gsbearer:
                        provider = (
                            gcs_keyfile_token_provider(gskeyfile)
                            if gskeyfile
                            else gce_metadata_token_provider(
                                endpoint=gsmeta))
                    _GCS_CACHE[cache_key] = GcsFS(
                        endpoint, bearer_token=gsbearer,
                        token_provider=provider)
                return _GCS_CACHE[cache_key]
        scheme = "gs-hadoop"
    if scheme in ("s3", "s3a", "s3n", "gs"):
        # The supported object-store class is "speaks the S3 API".
        # That covers real S3, any S3-compatible endpoint (MinIO,
        # Ceph, moto), and Google Cloud Storage through its XML
        # interoperability API (HMAC keys + https://storage.
        # googleapis.com — a documented, public GCS mode).  Azure Blob
        # does not speak S3: az://-style paths fall through to the
        # HadoopFS branch (JVM hadoop-azure connector), the same way
        # the reference delegates multi-scheme auth to obstore
        # (store/factory.py:22-79).
        token = None
        if scheme == "gs":
            endpoint = env.get("GCS_ENDPOINT_URL",
                               "https://storage.googleapis.com")
            access = env.get("GCS_ACCESS_KEY_ID")
            secret = env.get("GCS_SECRET_ACCESS_KEY")
            cred_src = (endpoint, access or "", secret or "")
        else:
            endpoint = env.get("AWS_ENDPOINT_URL")
            access = env.get("AWS_ACCESS_KEY_ID")
            secret = env.get("AWS_SECRET_ACCESS_KEY")
            token = env.get("AWS_SESSION_TOKEN")
            cred_src = (access or "", secret or "", token or "")
        cred = hashlib.sha256("\x00".join(cred_src).encode()).hexdigest()
        region = env.get("AWS_REGION")
        key = (scheme == "gs", endpoint, region, cred)
        try:
            with _S3_CACHE_LOCK:
                if key not in _S3_CACHE:
                    _S3_CACHE[key] = S3FS(endpoint_url=endpoint,
                                          region=region,
                                          access_key=access,
                                          secret_key=secret,
                                          session_token=token)
                return _S3_CACHE[key]
        except ImportError:
            pass  # no boto3: fall through to the JVM connector
    if "://" in path and not path.startswith("file://"):
        return None if spark is None else HadoopFS(spark)
    return LocalFS()


def fs_for(path: str, spark: SparkSession | None = None):
    """Pick the metadata FS for ``path`` by scheme and this process's
    env (:func:`resolve_fs`)."""
    fs = resolve_fs(path, os.environ, spark)
    if fs is None:
        raise ValueError(f"non-local path {path!r} needs a SparkSession")
    return fs


#: The env vars :func:`resolve_fs` reads: the AWS group, then the rest.
_AWS_ENV = ("AWS_ENDPOINT_URL", "AWS_REGION", "AWS_ACCESS_KEY_ID",
            "AWS_SECRET_ACCESS_KEY", "AWS_SESSION_TOKEN")
_STORE_ENV = ("AZURE_STORAGE_ACCOUNT", "AZURE_STORAGE_KEY",
              "AZURE_STORAGE_SAS_TOKEN", "AZURE_STORAGE_BEARER_TOKEN",
              "AZURE_MSI_ENDPOINT", "AZURE_BLOB_ENDPOINT",
              "GCS_ACCESS_KEY_ID", "GCS_SECRET_ACCESS_KEY",
              "GCS_ENDPOINT_URL", "GCS_BEARER_TOKEN", "GCS_KEYFILE",
              "GCE_METADATA_ENDPOINT", "GCS_JSON_ENDPOINT")


def capture_blob_conf() -> dict | None:
    """Snapshot, on the DRIVER, the env vars :func:`resolve_fs` reads,
    keyed by name, so they ride the pickled plan to the tasks
    (:func:`task_fs`).

    Long-lived Python workers keep the environment they were born with
    — env vars set later (a test fixture, a late-configured endpoint)
    never reach reused workers, so the snapshot makes task routing
    deterministic.  The AWS group rides only when a custom endpoint is
    set (test / on-prem rigs); against real AWS, executors use their
    own credential chain (instance roles), which is the
    production-correct path.  A keyfile path or a metadata/MSI
    endpoint suits long jobs better than a static token: each process
    mints and refreshes its own tokens."""
    names = _STORE_ENV + (_AWS_ENV if os.environ.get("AWS_ENDPOINT_URL")
                          else ())
    conf = {name: os.environ[name] for name in names
            if os.environ.get(name)}
    return conf or None


def task_fs(path: str, conf: dict | None = None):
    """The store client a Spark task uses for ``path``: the driver's
    snapshot ``conf`` (:func:`capture_blob_conf`) laid over this
    process's env, resolved exactly as :func:`fs_for` resolves on the
    driver.  Zarr chunks are read and written from tasks, so a root no
    task can reach raises :class:`StoreError` rather than writing a
    local directory named after the URL."""
    if path.startswith("memory://"):
        raise StoreError(
            f"{path}: memory:// lives in one process, and zarr "
            f"partitions are read and written by Spark tasks in other "
            f"processes — use a local or object-store root")
    fs = resolve_fs(path, ChainMap(conf or {}, os.environ))
    if fs is None:
        raise StoreError(
            f"no credentials for {path}: zarr chunk I/O runs in Spark "
            f"tasks through the Python store clients — set "
            f"AZURE_STORAGE_ACCOUNT plus AZURE_STORAGE_KEY, "
            f"AZURE_STORAGE_SAS_TOKEN, AZURE_STORAGE_BEARER_TOKEN or "
            f"AZURE_MSI_ENDPOINT for az://; GCS_BEARER_TOKEN, "
            f"GCS_KEYFILE, GCE_METADATA_ENDPOINT or the "
            f"GCS_ACCESS_KEY_ID/GCS_SECRET_ACCESS_KEY pair for gs://")
    return fs


def strip_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path
