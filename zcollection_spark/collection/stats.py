"""Zone-map and bloom statistics, shared by both storage layouts.

Each layout produces ``{relpath: {col: [min, max, null_count]}}`` plus
``{relpath: {"col#bloom": {...}}}`` — committed with the publish
(staging intent → catalog PUT) and consumed by ``query(where=...)``'s
conservative partition skipping (``partitioning/zonemap.py``):

* the parquet layout's writer is the JVM, so it pays one map-side-
  combined aggregation over the DataFrame being written
  (:func:`collect_zone_stats`, :func:`collect_bloom_stats`);
* the zarr layout's write task already holds every array it encodes,
  so it builds each partition's entries there (:func:`zone_entry`,
  :func:`bloom_entry`) and they ride the write job's own collect — no
  extra Spark job, and the statistics describe what is stored.

Correctness invariants (pruning must NEVER be a correctness boundary):

* **NaN poisoning** — Spark's aggregate ordering ranks NaN above every
  number, so a raw ``F.max`` over a float column containing NaN yields
  ``hi = NaN``; Python comparisons against NaN are all False, which
  would silently prune partitions that hold matching rows.  Floating
  columns therefore aggregate NaN-FREE bounds plus a NaN count, and any
  partition-column containing a NaN stores no bounds at all (evaluates
  as TOP — NaN compares greater than any number under Spark semantics,
  so such a partition may match ANY ordering predicate).
* **Decimal widening** — converting a Decimal bound to a JSON float
  rounds to nearest, which can round a min UP past the true min (or a
  max DOWN).  Bounds are widened outward (``math.nextafter`` toward
  ±inf) so the stored interval always contains the true one.
"""

from __future__ import annotations

import math
from decimal import Decimal
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Spark type names whose columns can hold NaN (F.isnan is only legal
#: on these).
_FLOATING = {"float", "double"}


def json_stat(value: Any, direction: str | None = None) -> Any:
    """JSON-encodable scalar for a zone-map bound.  Timestamps become
    ISO-8601 strings (which order lexicographically, so string literals
    in ``where`` compare correctly); numpy scalars unwrap; anything
    exotic falls back to ``str`` — orderings must stay consistent
    between what is stored and what the evaluator compares.

    ``direction`` ('lo' | 'hi' | None) widens lossy float conversions
    outward: a Decimal min rounds toward -inf, a max toward +inf, so an
    equality/boundary predicate on the extreme row can never be pruned
    by a rounded bound."""
    if value is None or isinstance(value, (int, float, str)):
        return value
    if hasattr(value, "item"):  # numpy scalar
        return json_stat(value.item(), direction)
    if hasattr(value, "isoformat"):  # datetime / date / pd.Timestamp
        return value.isoformat()
    try:
        f = float(value)  # Decimal and friends
    except (TypeError, ValueError):
        return str(value)
    if isinstance(value, Decimal) and Decimal(repr(f)) != value:
        if direction == "lo":
            f = math.nextafter(f, -math.inf)
        elif direction == "hi":
            f = math.nextafter(f, math.inf)
    return f


def zone_entry(values: np.ndarray) -> list:
    """``[lo, hi, nulls]`` of one partition-column, computed from the
    1-D array a writer encodes — the in-task counterpart of
    :func:`collect_zone_stats` (same NaN → TOP rule, same
    :func:`json_stat` widening).  The array holds no nulls: the zarr
    writer stores floats' nulls as NaN and fills or rejects the rest."""
    if values.dtype.kind == "f" and np.isnan(values).any():
        return [None, None, 0]
    if values.dtype == object:
        # strings: Python's code-point order IS Spark's UTF-8 byte order
        lo, hi = min(values), max(values)
    else:
        lo, hi = values.min(), values.max()
    return [json_stat(lo, "lo"), json_stat(hi, "hi"), 0]


def bloom_entry(values: np.ndarray, kind: str, m_bits: int) -> dict:
    """One partition-column bloom filter built from the array a writer
    encodes — bit-identical to :func:`collect_bloom_stats` over the
    same values (cast-to-string md5 canon of
    :func:`partitioning.zonemap.bloom_value_positions`)."""
    import base64
    from ..partitioning.zonemap import BLOOM_K, bloom_value_positions
    bits = np.zeros(m_bits // 64, dtype="<u8")
    for value in set(values.tolist()):
        for pos in bloom_value_positions(value, m_bits):
            bits[pos >> 6] |= np.uint64(1 << (pos & 63))
    return {"m": m_bits, "k": BLOOM_K, "t": kind,
            "b64": base64.b64encode(bits.tobytes()).decode()}


def collect_zone_stats(df: DataFrame, partitioning, stats_columns,
                       relpaths: list[str]) -> dict | None:
    """Per-partition ``{col: [min, max, nulls]}`` for the
    ``stats_columns`` present in ``df``.

    One extra aggregation job over the write's lineage — map-side
    partial aggregation keeps the shuffle at a few rows per partition,
    and the driver result is bounded by partition count (the same bound
    as the write path's distinct-keys collect).  If the lineage re-scan
    ever dominates at very large inserts, the drop-in alternative is a
    column-pruned re-read of the staged output."""
    cols = [c for c in stats_columns if c in df.columns]
    if not cols:
        return None
    keys = list(partitioning.keys)
    floating = {f.name for f in df.schema.fields
                if f.dataType.typeName() in _FLOATING}
    aggs = []
    for c in cols:
        val = (F.when(~F.isnan(c), F.col(c)) if c in floating
               else F.col(c))
        aggs += [F.min(val).alias(f"__lo_{c}"),
                 F.max(val).alias(f"__hi_{c}"),
                 F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")]
        if c in floating:
            aggs.append(F.sum(F.isnan(c).cast("long"))
                        .alias(f"__nan_{c}"))
    wanted = set(relpaths)
    out: dict = {}
    for row in df.groupBy(*keys).agg(*aggs).collect():
        rel = partitioning.encode({k: int(row[k]) for k in keys})
        if rel not in wanted:
            continue
        entry = {}
        for c in cols:
            if c in floating and int(row[f"__nan_{c}"] or 0):
                # NaN present: no orderable bounds exist for this
                # partition-column — store the TOP form (no pruning)
                entry[c] = [None, None, 0]
                continue
            entry[c] = [json_stat(row[f"__lo_{c}"], "lo"),
                        json_stat(row[f"__hi_{c}"], "hi"),
                        int(row[f"__nn_{c}"] or 0)]
        out[rel] = entry
    return out or None


# ---------------------------------------------------------------------------
# bloom filters: equality skipping on high-cardinality int/string columns
# ---------------------------------------------------------------------------

#: Spark integral type names eligible for blooms ("i" kind); "string"
#: is the "s" kind.  Everything else is rejected at create_collection
#: time — cross-engine string canonicalization is only exact for these.
_BLOOM_INT_TYPES = {"byte", "short", "integer", "long"}

#: Largest bloom geometry whose bitset stays INLINE in
#: ``_catalog/state.json``.  The default 1024-bit filters cost ~176
#: b64 bytes per (partition, column) — inlining keeps point lookups a
#: single catalog GET.  Past this, the bitset moves to a
#: content-addressed SIDECAR object under ``_catalog/blooms/`` and the
#: state entry carries a ``ref`` instead: at the SCALING.md 100-TB
#: sizing (2^23-bit ≈ 1 MiB filters × ~100k partitions) inlining would
#: push ~100 GB through every catalog PUT; with sidecars the PUT stays
#: ~100 bytes per partition and filters are fetched lazily — only for
#: partitions that survive interval pruning, only for probed columns.
BLOOM_INLINE_MAX_BITS = 4096


def bloom_payload_ref(b64: str) -> str:
    """Content address of a sidecar bloom payload (sha256 of the b64
    text, 24 hex chars).  Content addressing makes sidecar writes
    idempotent across CAS retries and concurrent writers, snapshots
    share unchanged filters for free, and GC is a reachability sweep
    (``Catalog.sweep_blooms``)."""
    import hashlib
    return hashlib.sha256(b64.encode("ascii")).hexdigest()[:24]


def bloom_kind_of(spark_type_name: str) -> str | None:
    if spark_type_name in _BLOOM_INT_TYPES:
        return "i"
    if spark_type_name == "string":
        return "s"
    return None


def collect_bloom_stats(df: DataFrame, partitioning, bloom_columns,
                        relpaths: list[str], *,
                        m_bits: int = 1024) -> dict | None:
    """Per-partition bloom filters ``{rel: {"col#bloom": {...}}}`` for
    the eligible ``bloom_columns`` present in ``df``.

    Zone-map min/max cannot prune an equality predicate on a
    high-cardinality unsorted column (every partition's interval spans
    the probe); a small per-partition bloom can — the Delta/Iceberg
    file-skipping companion, committed in the same catalog PUT as the
    zone stats.  Build cost: the SAME one map-side-combined aggregation
    shape as the zone stats — each row contributes k=3 md5-derived bit
    positions, OR-folded into ``m_bits/64`` ``bit_or`` aggregates, so
    the shuffle stays a few hundred bytes per partition and the driver
    result is bounded by partition count.  The row hash canon is the
    column CAST TO STRING (exact for int/string — validated at config
    time), matching :func:`partitioning.zonemap.bloom_value_positions`
    on the query side.  NULL rows contribute no bits (equality against
    NULL never matches).
    """
    from ..partitioning.zonemap import BLOOM_K
    cols = [c for c in (bloom_columns or []) if c in df.columns]
    kinds = {f.name: bloom_kind_of(f.dataType.typeName())
             for f in df.schema.fields if f.name in cols}
    cols = [c for c in cols if kinds.get(c)]
    if not cols:
        return None
    if m_bits % 64 or m_bits <= 0:
        raise ValueError("bloom_bits must be a positive multiple of 64")
    n_longs = m_bits // 64
    keys = list(partitioning.keys)
    # stage 1: k md5-derived bit positions per row per column (the
    # PySpark shiftleft wrapper only takes literal shift amounts, so
    # the dynamic shifts below go through SQL expressions over these
    # projected position columns)
    pos_cols = []
    for c in cols:
        digest = F.md5(F.col(c).cast("string"))
        for j in range(BLOOM_K):
            pos_cols.append(
                (F.conv(F.substring(digest, 1 + 8 * j, 8), 16, 10)
                 .cast("long") % F.lit(m_bits)).alias(f"__p_{c}_{j}"))
    proj = df.select(*keys, *pos_cols)
    aggs = []
    for c in cols:
        for i in range(n_longs):
            contrib = " | ".join(
                f"(case when __p_{c}_{j} div 64 = {i} then "
                f"shiftleft(cast(1 as bigint), "
                f"cast(__p_{c}_{j} % 64 as int)) "
                f"else cast(0 as bigint) end)"
                for j in range(BLOOM_K))
            aggs.append(F.bit_or(F.expr(contrib))
                        .alias(f"__bf_{c}_{i}"))
    import base64
    import struct
    wanted = set(relpaths)
    out: dict = {}
    for row in proj.groupBy(*keys).agg(*aggs).collect():
        rel = partitioning.encode({k: int(row[k]) for k in keys})
        if rel not in wanted:
            continue
        entry = {}
        for c in cols:
            longs = [int(row[f"__bf_{c}_{i}"] or 0)
                     for i in range(n_longs)]
            entry[f"{c}#bloom"] = {
                "m": m_bits, "k": BLOOM_K, "t": kinds[c],
                "b64": base64.b64encode(
                    struct.pack(f"<{n_longs}q", *longs)).decode()}
        out[rel] = entry
    return out or None


def resolve_sidecar_blooms(entries: dict, load, cache: dict):
    """Substitute sidecar bloom refs in ``{rel: {col: entry}}`` with
    their payloads (bounded thread-pool ``load(ref)`` GETs; successful
    payloads — immutable, content-addressed — memoized in ``cache``;
    failures are retried on the next query, never negatively cached).  Returns the substituted map, or None when nothing
    needed resolving; an unreadable payload keeps the ref form, so the
    probe degrades to scan.  Shared by the parquet and zarr query
    paths (both prune on the same catalog stats)."""
    from concurrent.futures import ThreadPoolExecutor
    refs = sorted({str(val["ref"])
                   for entry in entries.values() if entry
                   for val in entry.values()
                   if isinstance(val, dict) and "ref" in val
                   and "b64" not in val} - set(cache))
    if refs:
        with ThreadPoolExecutor(max_workers=min(16, len(refs))) as pool:
            for ref, b64 in zip(refs, pool.map(load, refs)):
                # only SUCCESSES are memoized: a failed GET may be a
                # transient throttle, and negatively caching it would
                # disable bloom pruning for the collection's lifetime —
                # the retry cost is one GET per query for that ref
                if b64 is not None:
                    cache[ref] = b64
    out = {}
    any_resolved = False
    for rel, entry in entries.items():
        new_entry = entry
        for col, val in (entry or {}).items():
            if not (isinstance(val, dict) and "ref" in val
                    and "b64" not in val):
                continue
            b64 = cache.get(str(val["ref"]))
            if b64 is None:
                continue
            if new_entry is entry:
                new_entry = dict(entry)
            new_entry[col] = {**{k: v for k, v in val.items()
                                 if k != "ref"}, "b64": b64}
            any_resolved = True
        out[rel] = new_entry
    return out if any_resolved else None


def merge_bloom_entries(a, b, load=None):
    """Union two bloom entries (append publish): bitwise OR when the
    geometry matches, else None (drop — a mismatched filter cannot
    soundly describe both sides' rows).

    ``load(ref) -> b64 | None`` resolves sidecar entries
    (``{"ref": ...}``, no inline bitset); an unresolvable side drops
    the entry — scan, never mis-prune.  The merged result is returned
    INLINE; the catalog re-externalizes it past the size threshold."""
    import base64
    import struct

    def payload(e):
        if "b64" in e:
            return e["b64"]
        if load is not None and "ref" in e:
            return load(e["ref"])
        return None

    try:
        if not (isinstance(a, dict) and isinstance(b, dict)):
            return None
        if (a["m"], a["k"], a["t"]) != (b["m"], b["k"], b["t"]):
            return None
        pa, pb = payload(a), payload(b)
        if pa is None or pb is None:
            return None
        ra, rb = base64.b64decode(pa), base64.b64decode(pb)
        if len(ra) != len(rb):
            return None
        n = len(ra) // 8
        la = struct.unpack(f"<{n}q", ra)
        lb = struct.unpack(f"<{n}q", rb)
        merged = struct.pack(f"<{n}q", *[x | y for x, y in zip(la, lb)])
        return {"m": a["m"], "k": a["k"], "t": a["t"],
                "b64": base64.b64encode(merged).decode()}
    except Exception:
        return None
