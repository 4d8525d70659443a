"""Zone-map and bloom statistics, shared by both storage layouts.

Each layout produces ``{relpath: {col: [min, max, null_count]}}`` plus
``{relpath: {"col#bloom": {...}}}`` — committed with the publish
(staging intent → catalog PUT) and consumed by ``query(where=...)``'s
conservative partition skipping (``partitioning/zonemap.py``).  Both
describe what the write stored, and neither re-runs the write lineage:

* the parquet layout's writer is the JVM, which already records min,
  max and null count for every column chunk; zone maps are folded from
  the footers of the staged files (:func:`staged_footers`,
  :func:`footer_zone_stats`).  Blooms cannot come from footers, so
  they re-read the staged output, pruned to the bloom columns
  (:func:`collect_bloom_stats`);
* the zarr layout's write task already holds every array it encodes,
  so it builds each partition's entries there (:func:`zone_entry`,
  :func:`bloom_entry`) and they ride the write job's own collect — no
  extra Spark job.

:func:`collect_zone_stats` is the Spark-aggregation reference both
layouts' entries are checked against (``tests/test_properties.py``).

Correctness invariants (pruning must NEVER be a correctness boundary):

* **NaN poisoning** — Spark's aggregate ordering ranks NaN above every
  number, so a raw ``F.max`` over a float column containing NaN yields
  ``hi = NaN``; Python comparisons against NaN are all False, which
  would silently prune partitions that hold matching rows.  Floating
  columns therefore aggregate NaN-FREE bounds plus a NaN count, and any
  partition-column containing a NaN stores no bounds at all (evaluates
  as TOP — NaN compares greater than any number under Spark semantics,
  so such a partition may match ANY ordering predicate).  A parquet
  footer shows a NaN as a NaN bound (parquet-mr writes ``max=NaN`` for
  any chunk holding one), which decodes to the same TOP.
* **Missing statistics are TOP** — a column chunk whose footer carries
  no min/max (parquet-mr skips values over 4 KiB) or no null count
  describes nothing, so the partition-column stores TOP, never EMPTY.
* **Decimal widening** — converting a Decimal bound to a JSON float
  rounds to nearest, which can round a min UP past the true min (or a
  max DOWN).  Bounds are widened outward (``math.nextafter`` toward
  ±inf) so the stored interval always contains the true one.
"""

from __future__ import annotations

import math
import struct
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
    ``stats_columns`` present in ``df``, by one map-side-combined
    aggregation job over ``df``.

    No write path runs this: the parquet layout folds footers
    (:func:`footer_zone_stats`) and the zarr layout builds entries in
    its write task (:func:`zone_entry`).  It stays as the reference
    definition of an entry, which the property tests compare both
    against over the read-back rows."""
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
# zone maps from parquet footers
# ---------------------------------------------------------------------------

#: Bytes the first tail read of a staged parquet file takes: footers of
#: collection files are a few KiB, so one read covers the common case
#: and a longer footer costs one more.
FOOTER_TAIL_BYTES = 1 << 16


def _footer_of_tail(read_tail, path: str):
    """``FileMetaData`` of a parquet file from its tail
    (``read_tail(path, n)`` → the last ``n`` bytes, all of a shorter
    file).  The footer is framed by its length and ``PAR1``; pyarrow
    parses it from that frame alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tail = read_tail(path, FOOTER_TAIL_BYTES)
    if len(tail) < 12 or tail[-4:] != b"PAR1":
        raise ValueError(f"{path} is not a parquet file")
    size = struct.unpack("<I", tail[-8:-4])[0] + 8
    if size > len(tail):
        tail = read_tail(path, size)
    return pq.read_metadata(pa.BufferReader(b"PAR1" + tail[-size:]))


def staged_footers(root: str, depth: int, fs) -> dict[str, list]:
    """``{relpath: [FileMetaData, ...]}`` of the parquet files a write
    job left under ``root`` (a partition tree ``depth`` keys deep).

    ``fs`` is the store holding ``root``: one walk of the tree
    (``staging._walk_files``: one LIST on an object store), then each
    file's tail (``fs.read_tail``: one ranged GET on an object store,
    one positioned stream on a Hadoop store), ``PUBLISH_POOL`` files at
    a time.  A local ``root`` — a local collection's staging dir, or the
    scratch a localized store writes before its upload — is read
    through a plain :class:`LocalFS` instead, one file after another:
    its footers are bytes on this disk, so they cost no store op, and
    each read takes microseconds, less than starting a thread."""
    from concurrent.futures import ThreadPoolExecutor

    from ..fs import LocalFS, scheme_of
    from .staging import PUBLISH_POOL, _walk_files
    local = scheme_of(root) == "file"
    if local:
        fs = LocalFS()
    files = [rel for rel in _walk_files(fs, root)
             if rel.count("/") == depth and rel.endswith(".parquet")]

    def footer(rel):
        return _footer_of_tail(fs.read_tail, f"{root}/{rel}")

    if local or len(files) < 2:
        metas = [footer(rel) for rel in files]
    else:
        with ThreadPoolExecutor(
                max_workers=min(PUBLISH_POOL, len(files))) as pool:
            metas = list(pool.map(footer, files))
    out: dict[str, list] = {}
    for rel, meta in zip(files, metas):
        out.setdefault(rel.rsplit("/", 1)[0], []).append(meta)
    return out


def _chunk_bound(stats, column, which: str) -> Any:
    """One decoded min or max of a column chunk: decimals from the
    unscaled integer (pyarrow cannot decode INT32/INT64-backed ones),
    strings, numbers and bools as pyarrow gives them, and None for a
    type no ``where`` literal can be compared with."""
    logical = column.logical_type.type
    if logical == "DECIMAL":
        raw = getattr(stats, f"{which}_raw")
        unscaled = (raw if isinstance(raw, int)
                    else int.from_bytes(raw, "big", signed=True))
        return Decimal(unscaled).scaleb(-column.scale)
    if logical == "STRING" or (
            column.physical_type in ("BOOLEAN", "INT32", "INT64", "FLOAT",
                                     "DOUBLE")
            and logical in ("NONE", "INT")):
        return getattr(stats, which)
    return None


def _fold_footer_column(metas: list, col: str) -> list | None:
    """``[lo, hi, nulls]`` of one partition-column over every row group
    of every file, None when the files do not store ``col`` as a flat
    column.  A NaN or inverted bound, float bounds from a writer that
    leaves NaN out of them, a chunk without min/max that is not all
    null, a chunk without a null count, or an undecodable type → TOP
    (``[None, None, 0]``: no bounds, the partition is always kept)."""
    lo = hi = None
    nulls = 0
    for meta in metas:
        schema = meta.schema
        idx = next((i for i in range(len(schema))
                    if schema.column(i).path == col), None)
        if idx is None:
            return None
        column = schema.column(idx)
        if column.physical_type in ("FLOAT", "DOUBLE") \
                and not (meta.created_by or "").startswith("parquet-mr"):
            # parquet-mr ranks a NaN into the max; writers that leave
            # NaN out of min/max (parquet-cpp) cannot show one
            return [None, None, 0]
        for r in range(meta.num_row_groups):
            group = meta.row_group(r)
            stats = group.column(idx).statistics
            if stats is None or not stats.has_null_count:
                return [None, None, 0]
            if not stats.has_min_max:
                if stats.null_count != group.num_rows:
                    return [None, None, 0]
                nulls += stats.null_count  # an all-null chunk
                continue
            a = _chunk_bound(stats, column, "min")
            b = _chunk_bound(stats, column, "max")
            # NaN fails a != a; min > max is a garbled (e.g. truncated)
            # bound
            if a is None or b is None or a != a or b != b or b < a:
                return [None, None, 0]
            lo = a if lo is None else min(lo, a)
            hi = b if hi is None else max(hi, b)
            nulls += stats.null_count
    return [json_stat(lo, "lo"), json_stat(hi, "hi"), nulls]


def footer_zone_stats(footers: dict[str, list], partitioning,
                      stats_columns) -> dict | None:
    """Per-partition ``{col: [min, max, nulls]}`` folded from the
    parquet footers of each staged partition (:func:`staged_footers`) —
    the entries :func:`collect_zone_stats` computes over the same rows,
    with no Spark job.  A stats column that is also a partition key is
    not stored in the files; its entry is the path's key value."""
    out: dict = {}
    for rel, metas in footers.items():
        key = partitioning.decode(rel)
        entry = {}
        for col in stats_columns or ():
            folded = ([key[col], key[col], 0] if col in key
                      else _fold_footer_column(metas, col))
            if folded is not None:
                entry[col] = folded
        if entry:
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
    zone stats.  Build cost: one map-side-combined aggregation over
    ``df`` (the parquet layout passes a re-read of the staged files,
    pruned to the bloom columns) — each row contributes k=3
    md5-derived bit positions, OR-folded into ``m_bits/64`` ``bit_or`` aggregates, so
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
