"""Atomic multi-partition write protocol: stage → intent → publish.

Re-expresses the observable behavior of the reference's transactional
store session (``/root/reference/zcollection/store/icechunk_store.py:158-168``,
test ``tests/test_icechunk.py:64``: a failed insert rolls back completely)
on plain filesystems / object stores, where the only primitives are
atomic single-file PUT and directory rename:

1. **Stage** — the Spark job writes its whole output under
   ``{root}/_staging/{id}/`` (hidden prefix: invisible to partition
   walks, catalog readers, and Spark partition discovery).  A job that
   dies here leaves nothing outside staging.
2. **Intent** — after the job succeeds, one small
   ``_staging/{id}/_publish.json`` records mode + relpaths.  This is the
   redo log: staged data is complete from this point on.
3. **Publish** — per-partition renames move staged dirs/files into final
   paths; ``swap`` replaces whole partition dirs (old content parked
   inside the staging dir until cleanup), ``append`` moves files under
   ``{id}-``-prefixed names.  Every step is idempotent, so a crash
   anywhere in publish is ROLLED FORWARD by :func:`recover`.
4. **Commit** — catalog add, then the staging dir is deleted (which also
   garbage-collects swapped-out old partition content).

:func:`recover` (called by ``repair_catalog`` / ``verify --repair``)
rolls staged-with-intent inserts forward and QUARANTINES intent-less
ones under ``{root}/_quarantine/{id}`` — uncommitted partial output is
never resurrected into query results by a store walk.  Like the
reference's repair, recovery must not run concurrently with writers.

Reader-visible windows (inherent to rename-based emulation; the
reference's transactional store has neither — gate concurrent readers
on the catalog generation if they matter):

1. In ``swap`` mode there is a moment per partition, between
   ``rename(dst, old)`` and ``rename(src, dst)``, where a concurrent
   reader sees that partition ABSENT.  A crash inside the window leaves
   it absent until :func:`recover` rolls it forward (exercised by
   tests/test_staging_recovery.py).
2. A multi-partition publish is per-partition renames, not one atomic
   swap: a concurrent reader can observe a torn old/new MIX of
   partitions mid-publish.  Single-snapshot readers should resolve the
   partition list once (the catalog read) and pin it.

Concurrent writers (pinned by tests/test_concurrency.py): staging ids
isolate in-flight jobs completely; per partition the LAST publish wins
and each partition is always wholly one writer's generation (row-level
mixes cannot happen — swaps are whole-dir/whole-manifest).  Across
partitions two racing writers may split ownership (the torn-mix window
above); a writer that loses a rename race fails LOUDLY with staging +
intent intact, and ``recover`` rolls it forward.  Writers needing
serialized multi-partition semantics must coordinate externally — the
engine guarantees convergence and per-partition atomicity, not a global
serialization order.

Object stores (the DECISION for stores without atomic rename): a
directory "rename" there is per-object copy+delete, so a crash can
leave any interleaving of old/staged objects.  When
``fs.supports_atomic_rename(root)`` is False, the publish therefore
switches to a MANIFEST-DRIVEN, file-granular protocol: the intent
records every staged file per partition (the manifest), and
``swap`` publish becomes (1) park dst files NOT in the manifest (the
old generation), (2) move each manifest file individually with an
exists-check.  Single-object PUTs are atomic on every object store, so
each step is idempotent and :func:`recover` converges from ANY crash
interleaving — the manifest is what distinguishes old from new when
both cohabit a partition dir.  ``append`` mode is file-granular with
collision-free names already.  The catalog PUT (one atomic object)
remains the commit signal; readers that must not observe the widened
per-partition windows gate on the catalog generation.
"""

from __future__ import annotations

import json
import uuid
from concurrent.futures import ThreadPoolExecutor

#: Driver-side parallelism for publish/metadata renames.  Renames are
#: tiny metadata ops; the pool bounds round-trip latency, not CPU.
PUBLISH_POOL = 16

STAGING_RELPATH = "_staging"
QUARANTINE_RELPATH = "_quarantine"
INTENT_NAME = "_publish.json"
OLD_RELPATH = "_old"


def new_staging_dir(fs, root: str) -> tuple[str, str]:
    """Allocate a unique staging directory; returns (id, absolute dir)."""
    staging_id = uuid.uuid4().hex
    staging = f"{root}/{STAGING_RELPATH}/{staging_id}"
    fs.mkdirs(staging)
    return staging_id, staging


def _walk_files(fs, root: str, rel: str = "") -> list[str]:
    """All file paths under ``root``, relative, recursive, sorted;
    hidden (``_``/``.``) names skipped at every level.

    Stores with a flat keyspace (object stores) expose ``walk_files``:
    ONE paginated LIST of the prefix replaces the O(dirs) recursive
    round-trips — the difference between seconds and minutes on a
    100k-file commit path.
    """
    if not rel:
        walker = getattr(fs, "walk_files", None)
        if walker is not None:
            return sorted(walker(root))
    out: list[str] = []
    base = f"{root}/{rel}" if rel else root
    for fname in fs.list_files(base):
        if fname.startswith(("_", ".")):
            continue
        out.append(f"{rel}/{fname}" if rel else fname)
    for dname in fs.list_dirs(base):
        if dname.startswith(("_", ".")):
            continue
        out.extend(_walk_files(fs, root,
                               f"{rel}/{dname}" if rel else dname))
    return sorted(out)


def _walk_all(fs, root: str, rel: str = "") -> list[str]:
    """Like :func:`_walk_files` but INCLUDING hidden names — quarantine
    must carry markers/intents/parked content along, not strand them."""
    out: list[str] = []
    base = f"{root}/{rel}" if rel else root
    for fname in fs.list_files(base):
        out.append(f"{rel}/{fname}" if rel else fname)
    for dname in fs.list_dirs(base):
        out.extend(_walk_all(fs, root, f"{rel}/{dname}" if rel else dname))
    return sorted(out)


def _quarantine_move(fs, src: str, dst: str) -> bool:
    """File-granular debris move for stores without directory rename.

    Idempotent: an existing target means an earlier half-finished
    quarantine copied it — finish the delete half.  Returns False on the
    first refused rename so the caller reports the id unresolved."""
    for rel in _walk_all(fs, src):
        target = f"{dst}/{rel}"
        if fs.exists_file(target):
            fs.delete(f"{src}/{rel}")
            continue
        fs.mkdirs(_parent(target))
        if not fs.rename(f"{src}/{rel}", target):
            return False
    fs.delete(src)
    return True


def write_intent(fs, staging: str, *, mode: str, relpaths: list[str],
                 manifests: dict | None = None,
                 txn: "tuple[str, int] | None" = None,
                 stats: dict | None = None) -> dict:
    """Persist the publish intent (the commit point of the write).

    ``manifests`` maps each relpath to its staged file list — required
    on stores without atomic rename, where publish is file-granular and
    the manifest is the only way to tell staged-new from residual-old.
    ``txn`` is an (app_id, version) streaming-sink transaction: it rides
    in the intent so a roll-forward commits it atomically with the
    catalog — a replayed micro-batch can never double-apply.
    """
    assert mode in ("swap", "append"), mode
    intent = {"format_version": 2, "mode": mode,
              "relpaths": sorted(relpaths)}
    if manifests is not None:
        intent["manifests"] = {rel: sorted(files)
                               for rel, files in manifests.items()}
    if txn is not None:
        intent["txn"] = [txn[0], int(txn[1])]
    if stats is not None:
        # zone-map stats ride in the intent so a crash roll-forward
        # commits them with the partitions (stale-stats safety: a
        # publish without stats DROPS the old entries, catalog.add)
        intent["stats"] = stats
    fs.write_text(f"{staging}/{INTENT_NAME}", json.dumps(intent, indent=1))
    return intent


def _parent(path: str) -> str:
    return path.rsplit("/", 1)[0]


def _must_rename(fs, src: str, dst: str) -> None:
    """Rename or raise — a silently-failed publish rename (permissions,
    unexpected dst) would otherwise leave a partition unpublished while
    the commit proceeds; loud failure keeps the staging dir + intent in
    place so ``recover`` can retry."""
    if not fs.rename(src, dst):
        from ..errors import StoreError
        raise StoreError(f"publish rename failed: {src!r} -> {dst!r}")


def _must_move_file(fs, src: str, dst: str) -> None:
    """File-granular publish move where the caller already did the
    dst-exists check.  Object stores expose ``move_file`` (one copy +
    one delete, no redundant dst HEAD/LIST — the dominant metadata cost
    of a large publish); everything else falls back to rename.  A
    concurrent overwrite race is benign here: single-object PUTs are
    atomic and the protocol is last-publish-wins per partition."""
    mover = getattr(fs, "move_file", None)
    if mover is not None:
        if not mover(src, dst):
            from ..errors import StoreError
            raise StoreError(f"publish move failed: {src!r} -> {dst!r}")
    else:
        _must_rename(fs, src, dst)


def _publish_one(fs, root: str, staging_id: str, staging: str,
                 mode: str, rel: str, manifest: list[str] | None) -> None:
    """Publish a single partition (idempotent; safe to re-run).

    With a ``manifest`` (stores without atomic rename), swap mode is
    file-granular: park non-manifest dst files (the old generation),
    then move each manifest file with an exists-check — every step is
    an atomic single-object op, so any crash interleaving re-converges.
    """
    src = f"{staging}/{rel}"
    dst = f"{root}/{rel}"
    if mode == "swap" and manifest is not None:
        old = f"{staging}/{OLD_RELPATH}/{rel}"
        marker = f"{old}/.parked"
        # Phase 1 — park EVERY current dst file (they are all the old
        # generation: moves only start after the marker lands), then
        # commit the phase with one atomic marker PUT.  Parking a file
        # whose parked copy already exists (a copy+delete "rename" that
        # crashed between halves) finishes the delete half.  Parking
        # everything — not just non-manifest names — is what makes the
        # later exists-check unambiguous even when old and new
        # generations share filenames (deterministic layouts).
        if not fs.exists_file(marker):
            # no dst-exists pre-check: the walk is one flat LIST that
            # returns [] for an absent prefix — a separate exists() on
            # an object store is HEAD-miss + LIST, pure overhead
            for f in _walk_files(fs, dst):
                if fs.exists_file(f"{old}/{f}"):
                    fs.delete(f"{dst}/{f}")
                else:
                    fs.mkdirs(_parent(f"{old}/{f}"))
                    _must_move_file(fs, f"{dst}/{f}", f"{old}/{f}")
            fs.mkdirs(old)
            fs.write_text(marker, "1")
        # Phase 2 — move each manifest file.  The move is attempted
        # FIRST (no pre-checks): after the phase-1 marker, anything at
        # the target is OUR identical bytes from an earlier attempt, so
        # an overwriting copy is idempotent — the happy path is exactly
        # one copy + one delete per file, and the HEADs only run on the
        # crash-recovery path (source already consumed).
        mover = getattr(fs, "move_file", None)
        for f in manifest:
            target = f"{dst}/{f}"
            source = f"{src}/{f}"
            fs.mkdirs(_parent(target))
            if mover is not None:
                moved = mover(source, target)
            elif fs.exists_file(target):
                continue  # landed in an earlier attempt
            elif fs.exists_file(source):
                _must_rename(fs, source, target)
                moved = True
            else:
                moved = False
            if not moved and not fs.exists_file(target):
                raise RuntimeError(
                    f"staged file {source!r} missing and {target!r} not "
                    f"published — staged data incomplete, cannot roll "
                    f"forward partition {rel!r}")
    elif mode == "swap":
        if not fs.exists(src):
            return  # already published by an earlier attempt
        if fs.exists(dst):
            old = f"{staging}/{OLD_RELPATH}/{rel}"
            fs.mkdirs(_parent(old))
            _must_rename(fs, dst, old)
        fs.mkdirs(_parent(dst))
        _must_rename(fs, src, dst)
    else:  # append: file-level moves under collision-free names
        if not fs.exists(src):
            return
        fs.mkdirs(dst)
        for fname in fs.list_files(src):
            if fname.startswith(("_", ".")):
                continue
            target = f"{dst}/{staging_id}-{fname}"
            if not fs.exists_file(target):
                _must_move_file(fs, f"{src}/{fname}", target)


def apply_publish(fs, root: str, staging_id: str, staging: str,
                  intent: dict, catalog=None) -> list[str]:
    """Move staged partitions into final paths; idempotent (roll-forward
    safe), then commit to the catalog and drop the staging dir.

    Partitions are independent, so the per-partition renames run on a
    driver-side thread pool — publish wall-time is ~ceil(n/POOL) FS
    round-trips rather than n (the sequential loop was the commit-path
    bottleneck at large partition counts).  A failure in any partition
    aborts the publish mid-flight; the survivors stay idempotent and
    :func:`recover` rolls the remainder forward.
    """
    mode = intent["mode"]
    relpaths = list(intent["relpaths"])
    manifests = intent.get("manifests") or {}

    def publish(rel: str) -> None:
        _publish_one(fs, root, staging_id, staging, mode, rel,
                     manifests.get(rel))

    if len(relpaths) <= 1:
        for rel in relpaths:
            publish(rel)
    else:
        with ThreadPoolExecutor(
                max_workers=min(PUBLISH_POOL, len(relpaths))) as pool:
            # list() forces iteration: the first failure raises here
            list(pool.map(publish, relpaths))
    if catalog is not None:
        txn = intent.get("txn")
        catalog.add(relpaths,
                    txn=(txn[0], int(txn[1])) if txn else None,
                    stats=intent.get("stats"),
                    widen=mode == "append")
    # Cleanup ordering is load-bearing on object stores: a recursive
    # delete is UNORDERED there, so deleting the whole staging dir in one
    # call could remove the .parked markers and staged manifest files
    # while _publish.json survives a crash — the next recover() would
    # then re-run phase 1, park the just-published generation, and fail
    # phase 2 forever.  Deleting the intent FIRST (one atomic object
    # delete) makes any residual staging dir intent-less debris, which
    # recover() quarantines instead of re-publishing.
    fs.delete(f"{staging}/{INTENT_NAME}")
    fs.delete(staging)
    return relpaths


def staged_publish(fs, root: str, *, write_fn, depth: int,
                   mode: str, catalog=None,
                   txn: "tuple[str, int] | None" = None) -> list[str]:
    """Run ``write_fn(staging_dir)`` (the Spark job), then publish its
    output atomically.  ``write_fn`` returns ``(manifest, stats)``: the
    writer's ``{rel: [files]}`` or None, and the catalog statistics of
    what it wrote or None — they ride the intent, so they are part of
    the commit or absent from it, never half-applied.  Returns the
    published partition relpaths."""
    staging_id, staging = new_staging_dir(fs, root)
    try:
        written, stats = write_fn(staging)
        relpaths = fs.list_partition_dirs(staging, depth)
    except BaseException:
        # job failed before intent: nothing is visible; leave the debris
        # in staging for recover() to quarantine, but try an eager delete
        try:
            fs.delete(staging)
        except Exception:
            pass
        raise
    manifests = None
    atomic = fs.supports_atomic_rename(root)
    if mode == "swap" and not atomic:
        # Object-store path: the intent records per-partition file
        # manifests so the publish (and any crash recovery) can run
        # file-granular moves.  The manifest source, in preference order:
        # 1. the WRITER — the manifest ``write_fn`` returned
        #    (the write task knows exactly what it wrote; zero extra
        #    round-trips on the commit path),
        # 2. a thread-pooled per-partition walk (or the store's flat
        #    ``walk_files`` LIST) for partitions the writer didn't cover.
        manifests = {}
        if isinstance(written, dict):
            rels = set(relpaths)
            manifests = {rel: sorted(files)
                         for rel, files in written.items() if rel in rels}
        missing = [rel for rel in relpaths if rel not in manifests]
        if missing:
            with ThreadPoolExecutor(
                    max_workers=min(PUBLISH_POOL, len(missing))) as pool:
                for rel, files in zip(missing, pool.map(
                        lambda r: _walk_files(fs, f"{staging}/{r}"),
                        missing)):
                    manifests[rel] = files
    if catalog is not None:
        # copy-on-republish retention for pinned generations — MUST
        # complete before the intent exists: a crash before the intent
        # published nothing (copies are harmless extra), a crash after
        # rolls forward with the old content already safe.  One pins
        # GET when nothing is pinned (the default).
        catalog.retain_for_pins(sorted(relpaths))
    intent = write_intent(fs, staging, mode=mode, relpaths=relpaths,
                          manifests=manifests, txn=txn, stats=stats)
    apply_publish(fs, root, staging_id, staging, intent, catalog)
    return sorted(relpaths)


def recover(fs, root: str, catalog=None) -> dict:
    """Roll forward published-but-uncommitted writes; quarantine
    uncommitted staging debris.  Returns ``{"published": [...],
    "quarantined": [...]}`` staging ids."""
    out: dict = {"published": [], "quarantined": []}
    staging_root = f"{root}/{STAGING_RELPATH}"
    if not fs.exists(staging_root):
        return out
    for staging_id in fs.list_dirs(staging_root):
        staging = f"{staging_root}/{staging_id}"
        intent_path = f"{staging}/{INTENT_NAME}"
        intent = None
        if fs.exists_file(intent_path):
            try:
                intent = json.loads(fs.read_text(intent_path))
            except ValueError:
                intent = None
        if intent is not None:
            apply_publish(fs, root, staging_id, staging, intent, catalog)
            out["published"].append(staging_id)
        else:
            quarantine = f"{root}/{QUARANTINE_RELPATH}"
            fs.mkdirs(quarantine)
            atomic = fs.supports_atomic_rename(root)
            if not atomic:
                # object store: no directory rename exists — move the
                # debris file-granularly (idempotent across crashes)
                moved = _quarantine_move(fs, staging,
                                         f"{quarantine}/{staging_id}")
            # the rename can be refused (dst left by a prior half-
            # quarantine, store-specific restrictions): fall back to a
            # unique destination, and only report success when a rename
            # actually happened — otherwise the debris stays in _staging
            # and must keep showing up as unresolved, not "quarantined"
            elif fs.rename(staging, f"{quarantine}/{staging_id}"):
                moved = True
            else:
                retry = (f"{quarantine}/{staging_id}-"
                         f"{uuid.uuid4().hex[:8]}")
                moved = fs.rename(staging, retry)
            if moved:
                # stamp the quarantine time (one PUT) so GC can apply a
                # TTL without relying on store mtimes (object stores
                # have none for prefixes).  Suffixed fallback dirs skip
                # the stamp (rare half-quarantine merges) — GC treats
                # unstamped debris conservatively.
                import time
                if fs.exists(f"{quarantine}/{staging_id}"):
                    fs.write_text(
                        f"{quarantine}/{staging_id}/.quarantined_at",
                        str(time.time()))
                out["quarantined"].append(staging_id)
            else:
                out.setdefault("unresolved", []).append(staging_id)
    return out


def gc_quarantine(fs, root: str, *, older_than: float,
                  now: float | None = None) -> dict:
    """Delete quarantined debris older than ``older_than`` seconds.

    Scope is STRICTLY ``{root}/_quarantine`` — live staging dirs (which
    may carry intents recover() will roll forward) are never touched.
    Ages come from the ``.quarantined_at`` stamp recover() writes;
    unstamped debris (quarantined before the stamp existed) is deleted
    only on an explicit ``older_than <= 0`` full purge, because its age
    is unknowable on stores without mtimes.
    """
    import time
    now = time.time() if now is None else now
    qroot = f"{root}/{QUARANTINE_RELPATH}"
    out: dict = {"deleted": [], "kept": []}
    if not fs.exists(qroot):
        return out
    for qid in fs.list_dirs(qroot):
        marker = f"{qroot}/{qid}/.quarantined_at"
        stamp = None
        if fs.exists_file(marker):
            try:
                stamp = float(fs.read_text(marker))
            except ValueError:
                stamp = None
        expired = (now - stamp >= older_than) if stamp is not None \
            else older_than <= 0
        if expired:
            fs.delete(f"{qroot}/{qid}")
            out["deleted"].append(qid)
        else:
            out["kept"].append(qid)
    return out
