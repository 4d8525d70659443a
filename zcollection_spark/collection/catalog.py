"""O(1) partition catalog: ``_catalog/state.json``.

Re-expresses ``/root/reference/zcollection/partitioning/catalog.py:72-167``:
a JSON document holding the complete sorted partition relpath list plus a
sha256 checksum.  A corrupted or checksum-mismatched document is treated as
missing (the reference's intent behind its broken ``except A, B:`` at
``catalog.py:98`` — SURVEY quirk Q1), falling back to a store walk.

At 100 TB scale this is the difference between one small GET and a recursive
object-store LIST over thousands of prefixes on every read.  The write is a
single atomic PUT (tmp+rename locally), so readers see either the old or the
new complete list — the commit point of the insert protocol.
"""

from __future__ import annotations

import hashlib
import json
import threading
from collections import defaultdict

from ..errors import CommitConflictError, StoreError

CATALOG_RELPATH = "_catalog/state.json"

#: content-addressed sidecar bloom payloads (see
#: ``stats.BLOOM_INLINE_MAX_BITS`` for the inline/sidecar cut-over and
#: its 100-TB cost model)
BLOOMS_RELDIR = "_catalog/blooms"

#: pinned-generation ledger (``{"pins": [gen, ...]}``) — generations a
#: user wants readable FOREVER, surviving republish (copy-on-republish
#: retention) and ``prune_history``
PINS_RELPATH = "_catalog/pins.json"

#: copy-on-republish retained partition content, laid out as
#: ``_catalog/retained/gen-<touched-stamp>/<relpath>/...`` — keyed by
#: the generation that PRODUCED the content, so one copy serves every
#: pin in ``[stamp, next-touch)``
RETAINED_RELDIR = "_catalog/retained"

#: completion marker inside a retained partition dir (hidden name:
#: partition scans skip ``_``-prefixed files, and its presence is the
#: validity bit — a crash mid-copy leaves no marker, so the partial
#: copy is retried, never trusted)
RETAINED_MARKER = "_retained.json"

#: retention-copy fan-out: a republish over K pinned partitions × F
#: files issues K·F INDEPENDENT server-side copy calls (CopyObject /
#: rewrite / Copy Blob — tiny requests, bytes never move through the
#: driver), so the cost is round-trip latency, not bandwidth.  A
#: bounded pool turns the pre-intent stall from K·F serialized RTTs
#: into ~K·F/16 — at 1000 files × 50 ms that is 3 s instead of 50 s.
#: Bounded (not unbounded) so a huge pin set cannot open thousands of
#: concurrent store connections from one driver.
_RETAIN_COPY_WORKERS = 16

#: CAS commit attempts before giving up.  Each retry re-reads the
#: winner's document, so N contending writers need at most N rounds;
#: 16 covers far beyond any sane concurrent-ingest fan-in.
_CAS_RETRIES = 16

#: per-path locks serializing read-modify-write catalog updates within a
#: process (concurrent driver threads) — they keep same-process writers
#: from ever paying a CAS retry.  CROSS-process writers are handled by
#: the conditional-write commit loop in ``_commit_rmw``: concurrent
#: catalog commits converge to the union of published partitions (the
#: reference races last-wins here and needs a rebuild to reconcile).
_LOCKS: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)


def _checksum(partitions: list[str]) -> str:
    return hashlib.sha256("\n".join(partitions).encode()).hexdigest()


def _parse_doc(text: str | None) -> dict | None:
    """The checksum-validated catalog document in ``text`` (the state
    document or a generation snapshot), or None if absent/corrupt."""
    if text is None:
        return None
    try:
        doc = json.loads(text)
        if doc.get("checksum") == _checksum(list(doc["partitions"])):
            return doc
    except (ValueError, KeyError, TypeError, AttributeError):
        pass
    return None  # corrupt → treated missing (quirk Q1 intent)


def diff_documents(base_doc: dict, cur_doc: dict,
                   since: int) -> list[tuple]:
    """Partition-level change rows ``(stamp, relpath, change)`` between
    two catalog documents — THE diff semantics, shared by the batch API
    (``Collection.changes``) and the CDC stream (changes_stream.py) so
    the two can never drift apart.  A partition's ``touched`` stamp
    decides 'changed since'; a missing stamp (legacy document) counts
    as touched-now so consumers reprocess rather than skip."""
    to_gen = int(cur_doc.get("generation", 0))
    old = set(base_doc.get("partitions", []))
    new = set(cur_doc.get("partitions", []))
    stamps = cur_doc.get("touched", {})
    rows = []
    for rel in sorted(new):
        stamp = int(stamps.get(rel, to_gen))
        if stamp > since:
            rows.append((stamp, rel, "added"))
    for rel in sorted(old - new):
        rows.append((to_gen, rel, "removed"))
    return rows


def _snapshot_sources(catalog: "Catalog",
                      generation: int) -> tuple[dict, dict, list]:
    """Shared resolution core: ``(snap, sources, stale)``.

    ``sources[rel]`` is ``None`` for a live-directory read, or the
    retained base dir (copy-on-republish — see
    :meth:`Catalog.retain_for_pins`) when the live dir moved on.
    ``stale`` lists partitions reconstructable from NEITHER.  Raises
    only for availability (pruned snapshot / unreadable catalog).
    """
    generation = int(generation)
    snap = catalog.read_at(generation)
    if snap is None:
        raise ValueError(
            f"generation {generation} is not available "
            f"(snapshot pruned or never committed); "
            f"history() lists what is retained")
    current = catalog.read_doc()
    if current is None:
        raise ValueError(
            "cannot verify a time-travel read: the current catalog "
            "is absent or corrupt (run repair_catalog first)")
    cur_gen = int(current.get("generation", 0))
    touched = current.get("touched", {})
    live = set(current.get("partitions", []))
    snap_touched = snap.get("touched", {})
    # candidates first, then BATCH the retained checks per stamp: ONE
    # existence probe of the stamp dir answers the common case (no
    # retained copies at all — unpinned collections, or stamps never
    # diverged) for every candidate at once, where the naive shape
    # paid a marker HEAD per republished partition (thousands of
    # round-trips per time-travel query on an object store).  When the
    # stamp dir DOES exist, per-rel marker HEADs stay — they are exact
    # (no false-stale from hidden-name-skipping partition listings),
    # and their count is bounded by the retained set, not the corpus.
    sources: dict = {}
    stale: list = []
    pending: dict = {}          # stamp -> [rel, ...]
    for rel in snap.get("partitions", []):
        if rel in live and int(touched.get(rel, cur_gen)) <= generation:
            sources[rel] = None                      # live dir is exact
            continue
        stamp = snap_touched.get(rel)
        if stamp is not None:
            pending.setdefault(int(stamp), []).append(rel)
        else:
            stale.append(rel)
    for stamp, rels in sorted(pending.items()):
        root = catalog.retained_root(stamp)
        if not catalog._fs.exists(root):
            stale.extend(rels)
            continue
        for rel in rels:
            if catalog.has_retained(stamp, rel):
                sources[rel] = root
            else:
                stale.append(rel)
    # the batched pass appends in stamp order — sort so stale listings
    # and error messages are deterministic regardless of grouping
    return snap, sources, sorted(stale)


def resolve_snapshot_readable(catalog: "Catalog",
                              generation: int) -> tuple[dict, dict]:
    """The gen-``generation`` document plus per-partition read SOURCES,
    verified exact against the current store state — the soundness gate
    behind time-travel (``at_generation``) reads, shared by the parquet
    and zarr layouts.

    Partition directories are MUTABLE (unlike the immutable data files
    of Delta/Iceberg/icechunk), so an old partition LIST reconstructs
    an old view only while every listed partition is physically
    untouched since that generation — OR a pinned-generation retained
    copy of its gen-``stamp`` content exists (``Catalog.pin`` +
    copy-on-republish, the icechunk-parity contract: a retained
    snapshot stays readable,
    ``/root/reference/zcollection/store/icechunk_store.py:98-282``).
    The per-partition ``touched`` stamps (the same index
    ``diff_documents`` uses) prove exactly that; a missing stamp
    (legacy document) counts as touched-now — conservative refusal,
    never a lie.  Raises ``ValueError`` for a pruned/unknown
    generation, an unverifiable current catalog, or any
    republished/dropped partition with no retained copy
    (``stale_partitions`` lists that subset without raising, for
    consumers that want a partial historical read).
    """
    snap, sources, stale = _snapshot_sources(catalog, generation)
    raise_for_stale(generation, stale)
    return snap, sources


def resolve_matched(catalog: "Catalog", generation: int,
                    matcher) -> tuple[dict, dict, list]:
    """``(snap, sources, matched)`` — the shared resolve-match-raise
    both layouts' ``query()`` and ``partitions()`` use: fetch + verify
    the snapshot once, let ``matcher`` (the layout's filter +
    numeric-sort) pick relpaths from its partition list, and raise only
    when a MATCHED relpath is stale (the filter-lenient partial-read
    contract, in exactly one place)."""
    snap, sources, stale = _snapshot_sources(catalog, generation)
    matched = matcher(list(snap.get("partitions", [])))
    if stale:
        raise_for_stale(generation, sorted(set(matched) & set(stale)))
    return snap, sources, matched


def raise_for_stale(generation: int, stale: list) -> None:
    """Shared staleness raiser — query paths call it on the FILTERED
    partition subset (a key predicate that excludes every stale
    partition makes the partial read the docstrings advertise), the
    strict resolution on the whole snapshot."""
    if stale:
        raise ValueError(
            f"generation {generation} is no longer reconstructable: "
            f"{len(stale)} partition(s) were republished or dropped "
            f"since with no retained copy (e.g. {stale[:3]}); "
            f"partition directories are mutable, so time-travel is "
            f"exact only while every generation-{generation} "
            f"partition is untouched or pin-retained "
            f"(pin_generation before mutating, or see "
            f"stale_partitions for partial reads)")


def stale_partitions(catalog: "Catalog", generation: int) -> list[str]:
    """The subset of gen-``generation`` partitions reconstructable from
    NEITHER the live store nor a retained copy — empty means a
    time-travel read of that generation succeeds in full; non-empty
    lets a consumer plan a partial historical read instead of catching
    the ``resolve_snapshot_readable`` ValueError."""
    return _snapshot_sources(catalog, generation)[2]


def _widen_stats(old: dict, new: dict, bloom_load=None) -> dict:
    """Union two ``{col: [min, max, nulls]}`` maps (append publish).
    A column present on only one side keeps NO entry — its interval is
    unknown for the other side's rows, and a partial interval could
    wrongly prune.

    ``[None, None, 0]`` is the TOP form (stats.py writes it for
    NaN-bearing float columns: no orderable bounds exist) and is
    DISTINCT from ``[None, None, n>0]`` (all-null: provably matches
    nothing).  A TOP side poisons the union to TOP — merging a clean
    interval over it would claim bounds for rows that have none."""
    out = {}
    for col in set(old) & set(new):
        if isinstance(old[col], dict) or isinstance(new[col], dict):
            # bloom entries ("col#bloom"): union = bitwise OR; any
            # geometry mismatch drops the entry (scan, never mis-prune)
            from .stats import merge_bloom_entries
            merged = merge_bloom_entries(old[col], new[col],
                                         load=bloom_load)
            if merged is not None:
                out[col] = merged
            continue
        (alo, ahi, an), (blo, bhi, bn) = old[col][:3], new[col][:3]
        a_top = alo is None and ahi is None and not an
        b_top = blo is None and bhi is None and not bn
        if a_top or b_top:
            out[col] = [None, None, 0]
            continue
        if alo is None or blo is None:
            lo = alo if blo is None else blo if alo is None else None
            hi = ahi if bhi is None else bhi if ahi is None else None
        else:
            try:
                lo, hi = min(alo, blo), max(ahi, bhi)
            except TypeError:
                continue  # incomparable types: drop rather than guess
        out[col] = [lo, hi, int(an or 0) + int(bn or 0)]
    return out


class Catalog:
    def __init__(self, fs, root: str, *, walk_depth: int | None = None):
        self._fs = fs
        self._root = root.rstrip("/")
        self._path = f"{self._root}/{CATALOG_RELPATH}"
        self._walk_depth = walk_depth
        #: refs removed by the most recent sweep_blooms (direct or via
        #: prune_history) — observability for CLI/maintenance callers
        self.last_swept: list[str] = []

    def _read_doc_versioned(self) -> tuple[dict | None, object | None]:
        """``(doc, version_token)`` in ONE read.  The token names the
        bytes read (S3 ETag / content hash) regardless of whether they
        parse — a corrupt document is replaced conditionally too, so a
        concurrent repair can't be clobbered blind.  ``(None, None)``
        means the file is absent (create-only commit)."""
        try:
            text, token = self._fs.read_versioned(self._path)
        except OSError:
            return None, None
        return _parse_doc(text), token

    def read(self) -> list[str] | None:
        """Sorted partition relpaths, or None if absent/corrupt."""
        doc = self.read_doc()
        return list(doc["partitions"]) if doc is not None else None

    def read_doc(self) -> dict | None:
        """The validated CURRENT document (partitions + generation +
        touched + stats), or None if absent/corrupt — the public read
        for consumers that need more than the partition list
        (time-travel staleness verification).  The one reader of the
        state document: one GET, no existence probe before it."""
        return self._read_doc_versioned()[0]

    def read_stats(self) -> dict:
        """Per-partition zone-map statistics:
        ``{relpath: {col: [min, max, null_count]}}`` — empty when the
        collection records none.  One GET with the partition list."""
        doc = self.read_doc()
        return dict((doc or {}).get("stats", {}))

    def read_txn(self, app_id: str) -> int:
        """Highest committed transaction version for ``app_id`` (-1 if
        none).  The txn map commits in the SAME atomic catalog PUT as
        the partition list — the Delta-style streaming-sink idempotence
        ledger: a replayed micro-batch whose version is already recorded
        was fully committed and must be skipped."""
        doc = self.read_doc()
        if doc is None:
            return -1
        return int(doc.get("txn", {}).get(app_id, -1))

    def write(self, partitions: list[str],
              txn_map: dict | None = None,
              stats_map: dict | None = None) -> None:
        """Write the full document (rebuild/repair: REPLACES the
        partition list).  ``txn_map=None`` PRESERVES the existing txn
        ledger (a catalog rebuild from a store walk must not forget
        committed stream batches); pass ``{}`` to reset.
        ``stats_map=None`` likewise keeps the zone-map statistics of
        every surviving partition.

        Routed through the same CAS loop as ``add``/``remove``
        (ADVICE r5): an unconditional read-then-PUT racing a concurrent
        CAS commit could mint a DUPLICATE generation number — both
        writers read gen N and write N+1 — overwriting the gen-(N+1)
        snapshot with a different document, so ``changes()`` replay
        could diff against the wrong base without any error.  Inside
        ``_commit_rmw`` the rebuild serializes with every other commit
        and generation numbers stay unique (the replacement semantics
        are unchanged: a rebuild's list wins by design)."""

        def mutate(base: list[str], txn_map0: dict, stats_map0: dict,
                   touched: dict, gen: int):
            new_txn = txn_map0 if txn_map is None else dict(txn_map)
            new_stats = (stats_map0 if stats_map is None
                         else dict(stats_map))
            # a full rewrite cannot know which partitions changed:
            # stamp everything with the new generation so incremental
            # consumers conservatively reprocess, never skip
            touched.clear()
            touched.update({rel: gen for rel in partitions})
            return list(partitions), new_txn, new_stats

        # need_base=False: a rebuild REPLACES the list, so the
        # no-catalog-yet baseline walk is wasted round-trips (and a
        # fresh store has nothing to walk)
        self._commit_rmw(mutate, need_base=False)

    @staticmethod
    def _build_doc(partitions: list[str], txn_map: dict,
                   stats_map: dict, generation: int,
                   touched: dict | None = None) -> dict:
        partitions = sorted(set(partitions))
        doc = {"format_version": 1, "generation": int(generation),
               "partitions": partitions,
               "checksum": _checksum(partitions)}
        if txn_map:
            doc["txn"] = {k: int(v) for k, v in sorted(txn_map.items())}
        live = set(partitions)
        stats_map = {rel: st for rel, st in stats_map.items()
                     if rel in live}
        if stats_map:
            doc["stats"] = {rel: stats_map[rel]
                            for rel in sorted(stats_map)}
        # per-partition last-touched generation: the incremental-diff
        # index (Collection.changes) — one int per partition, the same
        # asymptotics as the partition list itself
        touched = {rel: int(g) for rel, g in (touched or {}).items()
                   if rel in live}
        if touched:
            doc["touched"] = {rel: touched[rel]
                              for rel in sorted(touched)}
        return doc

    # -- commit history ------------------------------------------------
    # -- sidecar blooms (content-addressed payloads) -------------------

    def bloom_path(self, ref: str) -> str:
        return f"{self._root}/{BLOOMS_RELDIR}/{ref}"

    def load_bloom(self, ref) -> "str | None":
        """Sidecar b64 payload, or None (degrade to scan) on any
        failure — a missing/corrupt sidecar must never fail a query."""
        try:
            return self._fs.read_text(self.bloom_path(str(ref)))
        except Exception:
            return None

    def store_bloom(self, b64: str) -> str:
        """Write a sidecar payload; returns its content address.
        Idempotent (content-addressed), and ALWAYS re-PUT even when an
        object with the same hash exists: the rewrite refreshes the
        payload's mtime, which is what keeps sweep_blooms' grace
        window honest — a reused-but-not-yet-referenced payload must
        look young to a concurrent sweep, or it would be collected
        before this writer's catalog PUT lands (the PUT is atomic
        tmp+rename / unconditional object write, so concurrent
        identical writes converge)."""
        from .stats import bloom_payload_ref
        ref = bloom_payload_ref(b64)
        self._fs.write_text(self.bloom_path(ref), b64)
        return ref

    def _externalize_blooms(self, stats_map: dict) -> dict:
        """Move every inline bloom bitset past BLOOM_INLINE_MAX_BITS
        into a sidecar object, leaving ``{"m","k","t","ref"}`` in the
        document.  Runs INSIDE the commit loop, before the catalog PUT:
        sidecars are durable first, so a reader never sees a dangling
        ref from this writer; a crash between sidecar write and PUT
        leaves only harmless orphans (``sweep_blooms``)."""
        from .stats import BLOOM_INLINE_MAX_BITS
        out = {}
        for rel, entry in stats_map.items():
            if not isinstance(entry, dict):
                out[rel] = entry
                continue
            new_entry = entry
            for col, val in entry.items():
                if not (isinstance(val, dict) and "b64" in val
                        and int(val.get("m", 0)) > BLOOM_INLINE_MAX_BITS):
                    continue
                if new_entry is entry:
                    new_entry = dict(entry)
                slim = {k: v for k, v in val.items() if k != "b64"}
                slim["ref"] = self.store_bloom(val["b64"])
                new_entry[col] = slim
            out[rel] = new_entry
        return out

    def sweep_blooms(self, grace_seconds: float = 900.0) -> list[str]:
        """Delete sidecar payloads unreachable from the live document
        and every retained snapshot; returns the removed refs and
        records them on ``self.last_swept`` (so callers that sweep
        indirectly — ``prune_history`` — can still report the count).

        RACE SAFETY: ``_externalize_blooms`` writes payloads BEFORE
        the catalog PUT, so a concurrent writer's fresh payload is
        momentarily unreferenced — deleting it would leave the
        writer's committed document with a dangling ref (degraded
        pruning forever).  The sweep therefore skips any candidate
        younger than ``grace_seconds`` (store ``mtime``; an UNKNOWN
        age also skips — conservative), which out-waits any real
        commit window including CAS retries.  ``grace_seconds=0``
        forces immediate collection for offline maintenance when no
        writer can be live."""
        import time
        bloom_dir = f"{self._root}/{BLOOMS_RELDIR}"
        try:
            present = {p.rsplit("/", 1)[-1]
                       for p in self._fs.list_files(bloom_dir)}
        except Exception:
            self.last_swept = []
            return []
        if not present:
            self.last_swept = []
            return []
        docs = [self.read_doc()]
        docs += [self.read_at(g) for g in self.history()]
        live = set()
        for doc in docs:
            for entry in (doc or {}).get("stats", {}).values():
                for val in entry.values() if isinstance(entry, dict) \
                        else ():
                    if isinstance(val, dict) and "ref" in val:
                        live.add(str(val["ref"]))
        probe = getattr(self._fs, "mtime", None)
        cutoff = time.time() - grace_seconds
        removed = []
        for ref in sorted(present - live):
            if grace_seconds > 0:
                try:
                    age = probe(self.bloom_path(ref)) if probe else None
                except Exception:
                    age = None  # probe failure = unknown age
                if age is None or age > cutoff:
                    continue  # possibly in-flight: out-wait it
            try:
                self._fs.delete(self.bloom_path(ref))
                removed.append(ref)
            except Exception:
                pass  # an orphan that survives is still just garbage
        self.last_swept = removed
        return removed

    def _gen_path(self, generation: int) -> str:
        return f"{self._root}/_catalog/gen-{int(generation):012d}.json"

    def _snapshot(self, generation: int, payload: str) -> None:
        """Immutable per-generation snapshot: the state document's own
        bytes (``payload``, encoded once by ``_commit_rmw``), PUT AFTER
        the state commit.  Best-effort: a crash in between only costs
        the newest snapshot file, which ``read_at`` serves from state
        instead.  One extra PUT per commit buys an audit trail and
        incremental-consumer diffs (``Collection.changes``)."""
        try:
            self._fs.write_text(self._gen_path(generation), payload)
        except OSError:
            pass  # the commit itself (state PUT) already succeeded

    def generation(self) -> int:
        """Generation of the current catalog state (0 = no catalog)."""
        doc = self.read_doc()
        return int((doc or {}).get("generation", 0))

    def read_at(self, generation: int) -> dict | None:
        """The committed document of ``generation``: its snapshot file,
        one GET.  Only when that file is absent or invalid is the state
        document read, and served when state IS that generation (the
        crash window between the state PUT and the snapshot PUT).  None
        when the snapshot has been pruned, never existed or is corrupt.
        Generation numbers never repeat (``_commit_rmw``), so a valid
        snapshot is always the document its generation committed."""
        try:
            text, _ = self._fs.read_versioned(self._gen_path(generation))
        except OSError:
            text = None
        doc = _parse_doc(text)
        if doc is not None:
            return doc
        doc = self.read_doc()
        if doc is not None and int(doc.get("generation", 0)) \
                == int(generation):
            return doc
        return None

    def history(self) -> list[int]:
        """Available snapshot generations, ascending (one LIST)."""
        out = []
        for name in self._fs.list_files(f"{self._root}/_catalog"):
            if name.startswith("gen-") and name.endswith(".json"):
                try:
                    out.append(int(name[len("gen-"):-len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def prune_history(self, keep_last: int = 16, *,
                      bloom_grace_seconds: float = 900.0) -> list[int]:
        """Delete snapshot files beyond the newest ``keep_last`` (the
        state document is never touched).  Returns pruned generations.
        PINNED generations are exempt — a pin is a promise the
        generation stays readable, so its snapshot (the read's
        partition list) must outlive any retention window.  Superseded
        sidecar blooms and unreferenced retained partition copies are
        swept in the same maintenance op (``bloom_grace_seconds``
        guards in-flight writers; see :meth:`sweep_blooms` — the count
        lands in ``last_swept``)."""
        gens = self.history()
        pinned = set(self.pins())
        doomed = [g for g in (gens[:-keep_last] if keep_last > 0
                              else gens) if g not in pinned]
        for gen in doomed:
            self._fs.delete(self._gen_path(gen))
        if doomed:
            # snapshots were the only thing keeping superseded sidecar
            # blooms reachable — sweep them in the same maintenance op
            self.sweep_blooms(grace_seconds=bloom_grace_seconds)
            self.sweep_retained()
        return doomed

    # -- pinned generations + copy-on-republish retention --------------

    def _pins_path(self) -> str:
        return f"{self._root}/{PINS_RELPATH}"

    def pins(self) -> list[int]:
        """Pinned generations, ascending (one small GET; absent file =
        no pins, the zero-cost default).  ``read_versioned`` rather
        than ``read_text``: its absent-file contract is ``(None,
        None)`` on EVERY backend — JVM-side stores (HadoopFS) surface
        a raw Py4J error from a bare read of a missing path."""
        raw, _ = self._fs.read_versioned(self._pins_path())
        if not raw:
            return []
        try:
            doc = json.loads(raw)
            return sorted(int(g) for g in doc.get("pins", []))
        except (ValueError, TypeError) as exc:
            # the pin ledger is a DURABILITY promise: corrupt must be
            # loud, never "no pins" — a silent [] here would skip
            # copy-on-republish at the only moment the pinned bytes
            # still exist (contrast the catalog state document, whose
            # corrupt-means-missing only degrades to a store walk)
            raise StoreError(
                f"{self._pins_path()}: pin ledger is corrupt "
                f"({exc}); refusing to treat it as empty — restore or "
                f"delete the file explicitly") from exc

    def _mutate_pins(self, fn) -> list[int]:
        """Read-modify-write of the pin ledger — a conditional-write loop
        (same discipline as ``_commit_rmw``: unpin must never be
        resurrected by a racing pin's last-wins PUT)."""
        path = self._pins_path()
        with _LOCKS[path]:
            for attempt in range(_CAS_RETRIES):
                raw, token = self._fs.read_versioned(path)
                try:
                    cur = ([int(g) for g in
                            json.loads(raw).get("pins", [])]
                           if raw else [])
                except (ValueError, AttributeError, TypeError) as exc:
                    # corrupt-means-empty would make this very write
                    # WIPE every existing pin (last-wins PUT of []) —
                    # the one mutation a durability ledger must never
                    # perform silently
                    raise StoreError(
                        f"{path}: pin ledger is corrupt ({exc}); "
                        f"refusing a read-modify-write that would "
                        f"drop existing pins") from exc
                new = sorted({int(g) for g in fn(list(cur))})
                data = json.dumps({"format_version": 1, "pins": new})
                try:
                    self._fs.write_if(path, data, token)
                    return new
                except CommitConflictError:
                    continue
        raise CommitConflictError(
            f"{path}: pin ledger update lost {_CAS_RETRIES} races")

    def pin(self, generation: int) -> list[int]:
        """Add ``generation`` to the pin ledger; future republishes /
        drops of its partitions copy the old content aside first
        (:meth:`retain_for_pins`), so the generation stays readable.
        Returns the full pin list."""
        return self._mutate_pins(lambda p: p + [int(generation)])

    def unpin(self, generation: int) -> list[int]:
        """Remove a pin.  The caller decides when to reclaim the
        retained copies (:meth:`sweep_retained`)."""
        gen = int(generation)
        return self._mutate_pins(lambda p: [g for g in p if g != gen])

    def retained_root(self, stamp: int) -> str:
        """Base dir of retained gen-``stamp`` partition copies (the
        stamp is the generation that PRODUCED the content — one copy
        serves every pin in ``[stamp, next-touch)``)."""
        return f"{self._root}/{RETAINED_RELDIR}/gen-{int(stamp):012d}"

    def _retained_marker(self, stamp: int, rel: str) -> str:
        return f"{self.retained_root(stamp)}/{rel}/{RETAINED_MARKER}"

    def has_retained(self, stamp: int, rel: str) -> bool:
        """True when a COMPLETE retained copy exists (marker written
        after the last file — a crash mid-copy is retried, not
        trusted)."""
        return self._fs.exists_file(self._retained_marker(stamp, rel))

    def retain_for_pins(self, relpaths: "list[str]") -> list[str]:
        """Copy-on-republish: called BEFORE ``relpaths`` are
        overwritten, appended to, or dropped; copies the CURRENT
        content of each one whose content generation a pin still covers
        into the retained area.  Zero store round-trips beyond one pins
        GET when nothing is pinned (the default).  Idempotent — a
        completed copy (marker present) is never re-copied, so crash
        retry and the publish/recover replay are both safe.  Runs
        before the publish INTENT is written, so a crash either
        published nothing (retention copies are harmless extra) or
        rolls forward with retention already complete.

        Every copy is one server-side ``copy_file`` call on the
        driver's bounded pool (``_RETAIN_COPY_WORKERS`` threads), so
        ``CountingFS`` and ``api_counts`` see each one.

        Concurrency contract with pin/unpin: the pin set is read ONCE
        at the start of this call.  A ``pin`` that lands after that
        read is honored from the NEXT publish on (the racing publish
        may overwrite content the new pin wanted — the pin call's
        snapshot-readability check catches this, same as pinning any
        already-stale generation); an ``unpin`` racing this call only
        means one extra harmless copy that the next
        :meth:`sweep_retained` reclaims.  The ledger itself is
        conditional-write-safe (:meth:`_mutate_pins`; pinned by
        test_retention.py::test_pin_rmw_survives_cas_conflict)."""
        pins = self.pins()
        if not pins:
            return []
        doc = self.read_doc()
        if doc is None:
            # pins exist but the current catalog is unreadable: the
            # content stamps retention keys on cannot be determined, so
            # proceeding would silently break the pins' promise at the
            # only moment the old bytes still exist.  Loud stop — the
            # caller repairs the catalog (or unpins) and retries.
            raise StoreError(
                f"{self._root}: catalog state unreadable while "
                f"generations {pins} are pinned — refusing to publish "
                f"over possibly-pinned content (repair_catalog, or "
                f"unpin, then retry)")
        touched = doc.get("touched", {})
        live = set(doc.get("partitions", []))
        gmax = max(pins)
        from .staging import _walk_files
        candidates: list[tuple[str, int]] = []
        for rel in relpaths:
            if rel not in live:
                continue                  # brand-new partition: nothing old
            stamp = touched.get(rel)
            if stamp is None:
                # legacy stamp-less entry: a time-travel read treats it
                # as touched-now (stale), so a retained copy could never
                # be resolved — skip rather than copy dead weight
                continue
            stamp = int(stamp)
            if stamp > gmax:
                continue                  # content newer than any pin
            candidates.append((rel, stamp))
        if not candidates:
            return []

        def _prep(cand: "tuple[str, int]"):
            """Per-partition store probes (marker HEAD, partial-dir
            clear, source walk) — independent across partitions, so
            they share the copy pool; a republish over K pinned
            partitions pays ~K/W prep round-trips, not K."""
            rel, stamp = cand
            if self.has_retained(stamp, rel):
                return None               # completed copy: idempotent skip
            src = f"{self._root}/{rel}"
            dst = f"{self.retained_root(stamp)}/{rel}"
            # no marker but files present = crash mid-copy: clear the
            # partial dir first — stray partial files must never leak
            # into a retained scan
            if self._fs.exists(dst):
                self._fs.delete(dst)
            return rel, stamp, src, dst, _walk_files(self._fs, src)

        def _copy_one(rel: str, src_f: str, dst_f: str) -> None:
            # server-side copy (S3 CopyObject, GCS rewrite, Azure Copy
            # Blob, Hadoop FileUtil) — a pinned 100-GB partition never
            # round-trips through the driver
            if not self._fs.copy_file(src_f, dst_f):
                # a file listed a moment ago is gone: someone is
                # mutating the partition under us — writing the marker
                # would certify a PARTIAL copy as complete forever.
                # Loud stop; the publish retries retention from the
                # marker check.
                raise StoreError(
                    f"{src_f} vanished during retention copy "
                    f"(concurrent mutation?) — retained copy of {rel} "
                    f"is incomplete, not marked")

        # the per-file copies are independent idempotent server-side
        # calls — run them on a bounded pool so a republish touching
        # K pinned partitions × F files costs ~K·F/W round-trips of
        # publish latency, not K·F serialized from the driver.  The
        # markers preserve the completion contract: each rel's marker
        # is written only after ALL of that rel's copies returned, in
        # the submission thread, so a crash or a vanished-file error
        # leaves the rel unmarked (= retried), never certified.
        out: list[str] = []
        # full width even for one candidate partition: its file count
        # is unknown until _prep lists it, and idle threads are free
        workers = _RETAIN_COPY_WORKERS
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=workers,
                thread_name_prefix="zcs-retain") as pool:
            jobs = [j for j in pool.map(_prep, candidates)
                    if j is not None]
            futures = [
                (rel, stamp, len(files),
                 [pool.submit(_copy_one, rel, f"{src}/{f}",
                              f"{dst}/{f}") for f in files])
                for rel, stamp, src, dst, files in jobs]
            try:
                for rel, stamp, count, futs in futures:
                    for fut in futs:
                        fut.result()      # re-raises the loud stop
                    self._fs.write_text(
                        self._retained_marker(stamp, rel),
                        json.dumps({"format_version": 1,
                                    "stamp": stamp,
                                    "n_files": count}))
                    out.append(rel)
            except BaseException:
                # don't start copies we no longer need; in-flight ones
                # finish harmlessly (idempotent, unmarked)
                for _, _, _, futs in futures:
                    for fut in futs:
                        fut.cancel()
                raise
        return out

    def sweep_retained(self) -> list[str]:
        """Delete retained copies no PINNED generation references
        (after unpin / prune).  Reachability: pin g keeps ``(stamp,
        rel)`` for every partition of snapshot g at its recorded
        stamp.  Returns removed ``gen-<stamp>/<rel>`` identifiers."""
        base = f"{self._root}/{RETAINED_RELDIR}"
        stamp_dirs = [d for d in self._fs.list_dirs(base)
                      if d.startswith("gen-")]
        if not stamp_dirs or self._walk_depth is None:
            return []
        reachable: set = set()
        for g in self.pins():
            snap = self.read_at(g)
            if snap is None:
                # a LIVE pin whose snapshot is unreadable (pruned by
                # hand, corrupt, transient store fault): its reference
                # set is UNKNOWN — deleting "unreferenced" copies now
                # would turn a repairable one-file metadata problem
                # into unrecoverable data loss.  Skip the sweep; it
                # reruns on the next unpin/prune once the snapshot is
                # readable again.
                return []
            snap_touched = snap.get("touched", {})
            for rel in snap.get("partitions", []):
                stamp = snap_touched.get(rel)
                if stamp is not None:
                    reachable.add((int(stamp), rel))
        doomed: list[tuple[str, str]] = []
        # stamp dirs already empty when first listed: orphans from a
        # prior sweep that crashed between its copy deletes and the
        # dir delete — no later doomed-set would ever revisit them
        # (r12 advice).  Recorded during THIS pass's listing, so the
        # reclaim costs zero extra LIST round-trips.
        empty_dirs: list[str] = []
        for d in stamp_dirs:
            try:
                stamp = int(d[len("gen-"):])
            except ValueError:
                continue
            droot = f"{base}/{d}"
            rels = self._fs.list_partition_dirs(droot, self._walk_depth)
            if not rels:
                empty_dirs.append(d)
                continue
            for rel in rels:
                if (stamp, rel) not in reachable:
                    doomed.append((d, rel))
        # the per-copy deletes are independent idempotent prefix
        # removals — same bounded fan-out as retain_for_pins' copies
        # (each one is a LIST + batch-delete round-trip on object
        # stores; serializing K of them from the driver is the same
        # publish-latency tax the copy pool removed)
        removed: list[str] = []
        if doomed:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(
                    max_workers=min(_RETAIN_COPY_WORKERS, len(doomed)),
                    thread_name_prefix="zcs-sweep") as pool:
                list(pool.map(
                    lambda dr: self._fs.delete(f"{base}/{dr[0]}/{dr[1]}"),
                    doomed))
            removed = [f"{d}/{rel}" for d, rel in doomed]
            # a stamp dir whose last copy just left goes too — only
            # dirs that lost copies THIS sweep need a fresh listing
            for d in sorted({d for d, _rel in doomed}):
                droot = f"{base}/{d}"
                if not self._fs.list_partition_dirs(droot,
                                                    self._walk_depth):
                    empty_dirs.append(d)
        for d in sorted(set(empty_dirs)):
            self._fs.delete(f"{base}/{d}")
        return removed

    def _commit_rmw(self, mutate, need_base: bool = True) -> list[str]:
        """Read-merge-write commit, an optimistic-concurrency loop over
        the store's conditional write (``fs.write_if``): read the
        document and its version token in ONE GET, apply ``mutate``,
        conditionally PUT; a lost race re-reads the winner's document
        and re-merges, so concurrent committers CONVERGE TO THE UNION
        instead of last-writer-wins (S3: native ``If-Match`` ETag PUT —
        lock-free, any number of writers; local/HDFS: lock-file CAS)."""
        import random
        import time
        with _LOCKS[self._path]:
            for attempt in range(_CAS_RETRIES):
                doc0, token = self._read_doc_versioned()
                if doc0 is not None:
                    base = list(doc0["partitions"])
                elif need_base and self._walk_depth is not None:
                    base = self._fs.list_partition_dirs(self._root,
                                                        self._walk_depth)
                else:
                    base = []
                txn_map = dict((doc0 or {}).get("txn", {}))
                stats_map = dict((doc0 or {}).get("stats", {}))
                touched = dict((doc0 or {}).get("touched", {}))
                # the CAS serializes generation numbers: a lost race
                # re-reads the winner's generation and re-increments.
                # With no valid document, the snapshots left behind
                # seed it, so a number (and its snapshot) never repeats
                gen = 1 + (int(doc0.get("generation", 0))
                           if doc0 is not None
                           else max(self.history(), default=0))
                partitions, txn_map, stats_map = \
                    mutate(base, txn_map, stats_map, touched, gen)
                stats_map = self._externalize_blooms(stats_map)
                doc = self._build_doc(partitions, txn_map, stats_map,
                                      gen, touched)
                partitions = doc["partitions"]
                # encoded once, compactly: the snapshot PUTs the same
                # bytes (an indented encode runs CPython's pure-Python
                # encoder, about 6x slower on a wide document)
                payload = json.dumps(doc, separators=(",", ":"))
                try:
                    self._fs.write_if(self._path, payload, token)
                    self._snapshot(gen, payload)
                    return partitions
                except CommitConflictError:
                    if attempt == _CAS_RETRIES - 1:
                        raise
                    # jittered backoff: contending drivers desynchronize
                    time.sleep(random.uniform(0.0, 0.02 * (attempt + 1)))
        raise AssertionError("unreachable")

    def add(self, new: list[str],
            txn: "tuple[str, int] | None" = None,
            stats: dict | None = None,
            widen: bool = False) -> list[str]:
        """Add partitions (idempotent union).

        ``stats`` carries zone-map statistics for (a subset of) the new
        partitions.  STALE-STATS SAFETY INVARIANT: a partition
        re-published WITHOUT statistics has its old entry dropped —
        statistics only ever describe the current generation, so any
        writer path that cannot produce them degrades that partition to
        conservative full scans, never to wrong pruning.  ``widen=True``
        (append publishes) unions the new interval into the existing one
        — and drops the entry when there is no existing one, because
        appended-rows statistics alone do not describe rows already in
        the partition."""

        def mutate(base: list[str], txn_map: dict, stats_map: dict,
                   touched: dict, gen: int):
            if txn is not None:
                app, version = txn
                txn_map[app] = max(int(version),
                                   int(txn_map.get(app, -1)))
            provided = stats or {}
            existing = set(base)
            for rel in new:
                touched[rel] = gen
                fresh = provided.get(rel)
                if fresh is None:
                    stats_map.pop(rel, None)
                elif not widen:
                    stats_map[rel] = fresh
                elif rel in stats_map:
                    stats_map[rel] = _widen_stats(stats_map[rel], fresh,
                                                  self.load_bloom)
                elif rel not in existing:
                    # append created a BRAND-NEW partition: the appended
                    # rows are its entire content, so the fresh interval
                    # is exact — only an existing partition without
                    # stats must stay stats-less (its old rows are an
                    # unknown interval)
                    stats_map[rel] = fresh
                else:
                    stats_map.pop(rel, None)
            return sorted(set(base) | set(new)), txn_map, stats_map

        return self._commit_rmw(mutate)

    def remove(self, gone: list[str]) -> list[str]:
        def mutate(base: list[str], txn_map: dict, stats_map: dict,
                   touched: dict, gen: int):
            for rel in gone:
                stats_map.pop(rel, None)
            return sorted(set(base) - set(gone)), txn_map, stats_map

        return self._commit_rmw(mutate)
