"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant is a pure DataFrame program whose heavy step is
one shuffle.

- exact: hash-groupBy on the dedup key (map-side partial aggregation).
- MinHash+LSH: shingle → md5 hash → k permutation-min aggregates → band →
  bucket self-join.  The self-join keys on (band, bucket-hash), so only
  genuinely colliding docs meet — never an O(n²) cross join.
- SimHash: per-token bit votes aggregated per doc (packed counters, 3 per
  long), then a Hamming-banded bucket self-join: k+1 signature bands →
  equi-join on (band, value) → exact bit_count(xor) ≤ k filter.  Banding
  is pigeonhole-exact for Hamming ≤ k, never a cross join.
- n-gram Jaccard: candidate pairs from a shared-shingle join, Jaccard from
  exact distinct-shingle counts.

The hash primitive is md5 (``md5_long``), bit-identical in DuckDB —
every variant has an EXACT SQL oracle, unusual for LSH pipelines and done
deliberately so the driver can hash-match results.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import word_shingles, words

#: stop-shingle drop lists up to this many entries ride a broadcast
#: hint (~40 B/shingle → low hundreds of MB, far under the 8 GB
#: broadcast cap); bigger lists anti-join by shuffle instead — the
#: absolute-count max_df makes the stop set grow with VOCABULARY on a
#: big corpus, so "bounded" must be checked, never assumed
_STOP_BROADCAST_CAP = 2_000_000

#: Mersenne prime 2^31-1: modulus of the minhash permutation family.
#: Small enough that (x % P) * a + b stays below 2^63 (Spark 4 runs ANSI
#: mode — integer overflow is an error, not a wrap).
MINHASH_PRIME = (1 << 31) - 1


def unpersist_intermediates(df: DataFrame) -> DataFrame:
    """Release the persisted band frame backing a pairs DataFrame.

    ``lsh_candidate_pairs`` and ``simhash_duplicate_pairs`` persist
    their banding so the expensive signature aggregation feeds both
    self-join sides once (Spark does not reuse the exchange across the
    aliased sides).  The cache must outlive the returned LAZY plan, so
    the functions cannot unpersist it themselves; instead they attach
    the handle and the CALLER releases it after consuming the result:

    >>> pairs = simhash_duplicate_pairs(docs, ...)
    >>> pairs.count()                 # or write/collect/...
    >>> unpersist_intermediates(pairs)

    No-op (and safe) on DataFrames without attached intermediates.
    Long-lived sessions that skip this accumulate cached band frames;
    one-shot jobs may let executor teardown reclaim them.  The
    :func:`released` context manager scopes the call automatically,
    and :func:`cached_intermediates` makes a forgotten release
    auditable (it lists the still-persisted handles).

    With ``dedup.materialize_dir`` set the intermediates are parquet
    tables, and release DELETES them: unlike the persist() default,
    the released plan is NOT re-runnable (re-execution throws the
    datasource's missing-file error instead of recomputing) and a
    FORGOTTEN release leaks a ``zc-intermediate-*`` table that
    session teardown never reclaims — :func:`sweep_intermediates`
    cleans those up.
    """
    for cached in getattr(df, "_zc_cached", ()):
        cached.unpersist()
    return df


def _attach_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    result._zc_cached = cached
    return result


class _MaterializedHandle:
    """Release handle for a parquet-materialized intermediate: quacks
    like a persisted DataFrame for `unpersist_intermediates` /
    `cached_intermediates` (``unpersist()`` deletes the table;
    ``storageLevel`` reads DISK_ONLY until released).

    Divergence from persist() (documented, deliberate): release
    DELETES the backing table, so a plan rooted at it is NOT
    re-runnable after release — re-execution throws the datasource's
    missing-file error instead of recomputing from lineage.  Consume
    the result before releasing (the :func:`released` block enforces
    exactly that scope).
    """

    def __init__(self, frame: DataFrame, path: str, store,
                 mirror: "str | None" = None):
        self._frame, self._path, self._store = frame, path, store
        self._mirror = mirror
        self._released = False

    @property
    def storageLevel(self):
        from pyspark import StorageLevel
        return (StorageLevel.NONE if self._released
                else StorageLevel.DISK_ONLY)

    def unpersist(self, blocking: bool = False):
        if not self._released:
            self._store.delete(self._path)
            if self._mirror:
                # The object-store read plan is rooted at the localize
                # mirror, not the remote table: deleting only the
                # remote would leave a post-release re-run silently
                # reading the stale mirror (and leak local disk until
                # scratch teardown).  Remove both so the documented
                # missing-file contract holds in both modes.
                shutil.rmtree(self._mirror, ignore_errors=True)
            self._released = True
        return self


def _pin_wide(df: DataFrame) -> tuple[DataFrame, object]:
    """Materialize a WIDE shared intermediate (a shingle/band/span
    expansion that feeds several downstream branches — Spark has no
    cross-branch CSE, so it must be computed once).

    Default: ``persist()`` — right for a single-job run, where the
    executors that wrote the blocks are the ones that re-read them.
    With config ``dedup.materialize_dir`` set, the frame is instead
    written ONCE as a parquet table under that directory and read
    back — the 100-TB posture the family docstrings promise: lineage
    truncation (a re-run branch re-reads the table instead of
    re-exploding the corpus), resilience to executor loss (cached
    blocks die with their executor mid-job; a table does not), and an
    intermediate that outlives the session for multi-job pipelines.
    Either way the returned handle releases through the SAME caller
    contract (``unpersist_intermediates`` / ``released``) — for the
    table form, release DELETES the table.

    Two behavior changes the materialized mode brings to every
    constructor built on this (lsh_candidate_pairs,
    ngram_jaccard_pairs, simhash/jaccard/containment/span families,
    importance_weights — the otherwise-LAZY plan builders):

    - **eager at call time**: the write.parquet job runs when the
      constructor is CALLED, not when the result is first consumed
      (persist() defers to first action);
    - **leak mode is a table, not a cache block**: a result that is
      constructed but never released leaves its ``zc-intermediate-*``
      table on disk — unlike persist(), session teardown reclaims
      nothing.  :func:`sweep_intermediates` deletes the orphans.

    ``materialize_dir`` may live on ANY fs.py store (local path or
    ``s3://``/``az://``/``gs://``): object stores get the same
    scratch-write → ``upload_tree`` → ETag-validated ``localize``
    bridge the collection write path uses.  NOTE the bridge's scratch
    dir and localize mirror are DRIVER-LOCAL paths — on a single-node
    / local-mode session (where driver and executors share a
    filesystem) this makes connector-less object stores work; on a
    multi-node cluster without the native connector jars the
    executors cannot see either path, so distributed use of an
    object-store ``materialize_dir`` requires the jars (direct
    ``s3a://``-style scans) or a shared scratch/mirror filesystem.

    Returns ``(frame_to_build_on, release_handle)``.
    """
    from .. import config
    from .. import fs as fsmod
    root = config.get("dedup.materialize_dir")
    if not root:
        p = df.persist()
        return p, p
    import uuid
    spark = df.sparkSession
    path = f"{str(root).rstrip('/')}/zc-intermediate-{uuid.uuid4().hex}"
    store = fsmod.fs_for(path, spark)
    if hasattr(store, "upload_tree"):
        # object store without assuming a JVM connector: Spark writes
        # to local scratch, the store uploads (upload_tree removes the
        # scratch), and the read comes off the localize mirror
        import tempfile
        scratch = tempfile.mkdtemp(prefix="zc_pin_")
        df.write.parquet(f"{scratch}/t")
        store.upload_tree(f"{scratch}/t", path)
        shutil.rmtree(scratch, ignore_errors=True)
        mirror = store.localize(path)
        frame = spark.read.parquet(mirror)
        return frame, _MaterializedHandle(frame, path, store, mirror)
    df.write.parquet(path)
    frame = spark.read.parquet(path)
    return frame, _MaterializedHandle(frame, path, store)


def _scan_size_bytes(df: DataFrame) -> int:
    """Driver-side estimate of the input's scan size (optimizer
    statistics — file sizes for a parquet scan; NO Spark job).  −1
    when the estimate is unavailable (e.g. Spark Connect), which
    callers treat as "small"."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return -1


def pin_if_large(frame: DataFrame, source: DataFrame,
                 key: str) -> tuple[DataFrame, list]:
    """The size-gated pin: ``frame.persist()`` when ``source``'s
    optimizer-estimated scan size reaches config ``key`` (None: never;
    0: always).  On a small input recomputing a shared intermediate
    beats a pin, on a large one the pin wins (r17).  Returns
    ``(frame_to_build_on, handles)``, the handles to release through
    ``_attach_cached`` / ``unpersist_intermediates``."""
    from .. import config
    gate = config.get(key)
    if gate is not None and 0 <= gate <= _scan_size_bytes(source):
        frame = frame.persist()
        return frame, [frame]
    return frame, []


def sweep_intermediates(spark: "SparkSession | None" = None,
                        root: "str | None" = None) -> list[str]:
    """Delete every ``zc-intermediate-*`` table under ``root``
    (default: config ``dedup.materialize_dir``) and return the deleted
    paths.  The recovery path for the materialized mode's leak: a
    result constructed but never released leaves its table behind,
    and — unlike persist() — session teardown reclaims nothing.  Run
    it between pipeline jobs or from a janitor when no pipeline holds
    a live materialized intermediate (it cannot tell a leaked table
    from one still being consumed)."""
    from .. import config
    from .. import fs as fsmod
    root = root if root is not None else config.get(
        "dedup.materialize_dir")
    if not root:
        return []
    base = str(root).rstrip("/")
    store = fsmod.fs_for(base, spark)
    doomed = [f"{base}/{name}" for name in store.list_dirs(base)
              if name.startswith("zc-intermediate-")]
    for path in doomed:
        store.delete(path)
        if hasattr(store, "localize"):
            # Object-store mode also leaves a driver-local localize
            # mirror per table; re-localizing the now-deleted prefix
            # empties the mirror of files (the stale-object sweep) and
            # the rmtree drops the empty tree.
            shutil.rmtree(store.localize(path), ignore_errors=True)
    return sorted(doomed)


def cached_intermediates(df: DataFrame) -> list[DataFrame]:
    """The intermediate frames a dedup-family result still holds
    persisted — empty once :func:`unpersist_intermediates` (or the
    :func:`released` context manager) has run, or for results that
    never attach any.  A long-lived session can audit for forgotten
    releases by checking ``cached_intermediates(df)`` against each
    frame's ``storageLevel`` (``useMemory``/``useDisk`` both False
    after release)."""
    return [c for c in getattr(df, "_zc_cached", ())
            if c.storageLevel.useMemory or c.storageLevel.useDisk]


from contextlib import contextmanager as _contextmanager


@_contextmanager
def released(*dfs: DataFrame):
    """Scope the persist/unpersist caller contract: yield the result
    frame(s) and release their attached intermediates on exit, errors
    included — the misuse-proof form of calling
    :func:`unpersist_intermediates` by hand:

    >>> with released(lsh_candidate_pairs(docs, ...)) as pairs:
    ...     pairs.count()

    Multiple frames release together (``with released(a, b) as (a, b)``).
    The yielded plans stay LAZY — consume them inside the block.  After
    exit the band/shingle intermediates are gone; what a post-release
    re-run does depends on the mode: persisted (default) plans
    recompute from scratch (correct, just slower), while
    ``dedup.materialize_dir`` plans are rooted at a parquet table the
    release just DELETED and fail with the datasource's missing-file
    error — in materialized mode, treat release as end-of-life for
    the plan, not a cache eviction.
    """
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            unpersist_intermediates(df)


def md5_long(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative int64 (60 bits).

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — bit
    identical, which is what makes the dedup family oracle-checkable.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, cols: list[str],
                           id_col: str) -> DataFrame:
    """Groups with >1 member: (cols..., n_dups, keep_id=min id)."""
    return (df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .where(F.col("n_dups") > 1))


def dedup_exact(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """One representative row (min ``id_col``) per distinct ``cols``.

    Implemented as min-id per group + semi-join back — two map-side
    combinable aggregations, no window over the full table.
    """
    keep = df.groupBy(*cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*cols, id_col], how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def suggest_minhash_config(threshold: float, num_hashes: int = 16, *,
                           fp_weight: float = 0.5,
                           fn_weight: float = 0.5) -> dict:
    """Optimal LSH banding for a Jaccard ``threshold``: the
    ``(bands, rows)`` factorization of ``num_hashes`` minimizing the
    weighted false-positive + false-negative mass of the banding
    S-curve ``P(candidate | J=s) = 1 - (1 - s^rows)^bands`` — the
    datasketch ``_optimal_param`` recipe, so ``lsh_candidate_pairs``
    can be tuned from the dedup threshold instead of hand-picked
    (bands=4 on 16 hashes puts the curve's knee near J≈0.5; a 0.8
    threshold wants fewer, wider bands).

    ``fp_weight`` taxes candidates below the threshold (extra join
    fan-out — wasted verification work at scale), ``fn_weight`` missed
    pairs above it (lost recall).  Returns ``{"bands", "rows",
    "fp_mass", "fn_mass", "knee"}``; ``knee`` is the similarity where
    the curve crosses ½ (≈ ``(1/bands)^(1/rows)``).  Deterministic
    fixed-step integration — no RNG, no data access.
    """
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if fp_weight < 0 or fn_weight < 0 or fp_weight + fn_weight == 0:
        raise ValueError("weights must be non-negative, not both zero")
    steps = 1000
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** rows) ** bands
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, bands, rows, fp, fn)
    _, bands, rows, fp, fn = best
    return {"bands": bands, "rows": rows, "fp_mass": fp,
            "fn_mass": fn, "knee": (1.0 / bands) ** (1.0 / rows)}


def _perm_params(i: int) -> tuple[int, int]:
    """Deterministic permutation family: h_i(x) = (a_i·x + b_i) mod P."""
    return 2 * i + 1, (i * 0x9E3779B1 + 7) % MINHASH_PRIME


def minhash_signatures(df: DataFrame, *, id_col: str, text_col: str,
                       num_hashes: int = 16,
                       shingle_size: int = 3) -> DataFrame:
    """(id, h0..h{k-1}) minhash signature per document.

    One explode + one groupBy: the k permutation-mins are k aggregate
    expressions over the same shuffled rows (not k passes).
    """
    shingled = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            word_shingles(text_col, shingle_size))).alias("__shingle"))
    hashed = shingled.select(
        id_col, md5_long(F.col("__shingle")).alias("__x"))
    aggs = []
    x_mod = F.col("__x") % F.lit(MINHASH_PRIME)
    for i in range(num_hashes):
        a, b = _perm_params(i)
        aggs.append(F.min((x_mod * F.lit(a) + F.lit(b))
                          % F.lit(MINHASH_PRIME)).alias(f"h{i}"))
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame, *, id_col: str,
                        num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """LSH banding: docs sharing any band bucket → candidate pairs
    (id_a < id_b, distinct).

    The band signature is md5 over the concatenated band values; the
    self-join keys on (band_id, bucket) so only real collisions pair up.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        bucket = F.md5(F.concat_ws("-", *[c.cast("string") for c in cols]))
        band_structs.append(F.struct(F.lit(b).alias("band"),
                                     bucket.alias("bucket")))
    banded = signatures.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    # both sides of the self-join read the banding — materialize once so
    # the signature aggregation (explode + k min-aggs) runs a single
    # time; released by the caller via unpersist_intermediates()
    banded, handle = _pin_wide(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    return _attach_cached(
        left.join(right, on=["band", "bucket"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"))
        .distinct(), handle)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: packed vote-counter slot width: 3 counters per 64-bit sum, each
#: counting up to 2^20-1 set bits — i.e. docs may have up to ~1M
#: DISTINCT tokens before a counter could overflow (a pathological
#: multi-MB document; typical web docs are orders of magnitude below).
_SIMHASH_SLOT = 20


def simhash(df: DataFrame, *, id_col: str, text_col: str,
            n_bits: int = 32, packed: bool = True) -> DataFrame:
    """(id, simhash) — bit j set iff the sum over distinct tokens of
    ±1 votes (sign from token-hash bit j) is positive.

    Bit extraction uses INTEGER division (``h div 2^j``) — float division
    would silently mangle low bits of a 60-bit hash.  The hash domain is
    folded to ``n_bits`` bits so every vote bit genuinely varies.

    With ``packed=True`` (default) the per-bit vote sums are PACKED
    three-to-a-long (20-bit slots): vote_j > 0 ⟺ 2·count_j > n_tokens,
    so one ``count(*)`` plus ``ceil(n_bits/3)`` packed sums replace
    ``n_bits`` independent sum aggregates — same exact result (pure
    integer arithmetic), one third the aggregation buffers.  A packed
    counter would silently overflow into its neighbor past 2^20
    DISTINCT tokens in one document, so the packed path GUARDS the
    limit: any such pathological document raises
    ``SIMHASH_PACKED_OVERFLOW`` at execution time (fail loud, never
    emit a corrupt signature); rerun with ``packed=False`` — the
    unpacked per-bit aggregation, exact to 2^62 tokens — for corpora
    that legitimately contain multi-million-distinct-token documents.
    The DuckDB oracle keeps the unpacked per-bit formulation; both are
    exact so the results hash-match.
    """
    if not 1 <= n_bits <= 62:
        raise ValueError("n_bits must be in [1, 62]")
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(words(text_col))).alias("__tok"))
    hashed = toks.select(
        id_col,
        (md5_long(F.col("__tok")) % F.lit(1 << n_bits)).alias("__h"))
    if not packed:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for j in range(n_bits):
            aggs.append(F.sum(
                F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1))
            ).alias(f"c{j}"))
        agg = hashed.groupBy(id_col).agg(*aggs)
        sig = None
        for j in range(n_bits):
            term = F.when(F.col(f"c{j}") * 2 > F.col("__n"),
                          F.lit(1 << j)).otherwise(F.lit(0))
            sig = term if sig is None else sig + term
        return agg.select(id_col, sig.cast("long").alias("simhash"))
    # bit-spread packing: v = 3 adjacent hash bits (b2 b1 b0).  v*MAGIC
    # lays disjoint copies of v at offsets 0 / SLOT-1 / 2(SLOT-1) (no
    # carries — the ranges don't overlap), so the MASK picks b0@0,
    # b1@SLOT, b2@2·SLOT: three counters incremented with one shift,
    # two ANDs and a multiply per group instead of per-bit div/mod
    # chains.  At 48 bits the whole vote aggregation costs less than
    # the md5 itself.
    magic = F.lit(1 + (1 << (_SIMHASH_SLOT - 1))
                  + (1 << (2 * (_SIMHASH_SLOT - 1))))
    mask = F.lit(1 | (1 << _SIMHASH_SLOT) | (1 << (2 * _SIMHASH_SLOT)))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for g in range((n_bits + 2) // 3):
        v = F.shiftright(F.col("__h"), 3 * g).bitwiseAND(F.lit(7))
        if 3 * g + 3 > n_bits:  # partial last group: drop excess bits
            v = v.bitwiseAND(F.lit((1 << (n_bits - 3 * g)) - 1))
        aggs.append(F.sum((v * magic).bitwiseAND(mask)).alias(f"p{g}"))
    agg = hashed.groupBy(id_col).agg(*aggs)
    sig = None
    for j in range(n_bits):
        g, s = divmod(j, 3)
        count_j = (F.shiftright(F.col(f"p{g}"), _SIMHASH_SLOT * s)
                   .bitwiseAND(F.lit((1 << _SIMHASH_SLOT) - 1)))
        term = F.when(count_j * 2 > F.col("__n"),
                      F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    # overflow guard (fail loud, never corrupt): a 20-bit packed slot
    # caps at 2^20-1 votes, and every per-bit count is <= __n, so
    # __n < 2^SLOT proves no slot overflowed.  raise_error fires at
    # execution time only for offending documents.
    guarded = F.when(
        F.col("__n") < F.lit(1 << _SIMHASH_SLOT), sig.cast("long")
    ).otherwise(F.raise_error(F.concat(
        F.lit("SIMHASH_PACKED_OVERFLOW: document "),
        F.col(id_col).cast("string"),
        F.lit(f" has >= 2^{_SIMHASH_SLOT} distinct tokens; "
              "rerun with packed=False (simhash and "
              "simhash_duplicate_pairs both accept it)"))))
    return agg.select(id_col, guarded.cast("long").alias("simhash"))


def simhash_duplicate_pairs(df: DataFrame, *, id_col: str, text_col: str,
                            n_bits: int = 32,
                            salt_buckets: int = 1,
                            max_hamming: int = 0,
                            packed: bool = True) -> DataFrame:
    """Docs whose simhashes differ in ≤ ``max_hamming`` bits → near-dup
    pairs (id_a < id_b).

    Hamming banding (the standard pigeonhole construction, cf. Manku et
    al., WWW'07 "Detecting near-duplicates for web crawling"): split the
    ``n_bits`` signature into ``max_hamming + 1`` contiguous bit bands —
    any pair within the Hamming budget must agree EXACTLY on at least
    one band, so an equi-join on (band, band_value) finds every
    qualifying pair (banding is exact here, not probabilistic), and a
    JVM ``bit_count(xor)`` filter keeps only true ≤k neighbors.  With
    ``max_hamming=0`` this degrades to the identical-signature join.
    Candidate selectivity per band is ``2^(n_bits/(k+1))`` — size
    ``n_bits`` so bands stay wide (48 bits / k=1 → 2^24 buckets).

    Skew: a single hot band value (e.g. near-empty docs all hashing to
    0) funnels its group through one join task.  The DEFAULT answer is
    AQE's skew-join splitting (``spark.sql.adaptive.skewJoin``), which
    subdivides oversized partitions at runtime with no replication
    cost.  ``salt_buckets > 1`` opts into EXPLICIT salting instead
    (left side salted from the doc id, right side replicated to all
    salts, join on (band, bval, salt) — each (a < b) pair still meets
    exactly once, at a's salt) for engines/configs without AQE; it
    costs a ``salt_buckets``-fold right-side fan-out, measured ~2× the
    whole query at sf0.1, which is why it is no longer the default.
    """
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    if not 0 <= max_hamming < n_bits:
        raise ValueError("max_hamming must be in [0, n_bits)")
    bands = max_hamming + 1
    width = n_bits // bands
    if width < 1:
        raise ValueError("n_bits must give every band at least one bit")
    sig = simhash(df, id_col=id_col, text_col=text_col, n_bits=n_bits,
                  packed=packed)
    band_structs = []
    for b in range(bands):
        lo = b * width
        w = n_bits - lo if b == bands - 1 else width  # last takes slack
        bval = F.expr(f"simhash div {1 << lo}") % F.lit(1 << w)
        band_structs.append(F.struct(F.lit(b).alias("band"),
                                     bval.cast("long").alias("bval")))
    # one materialization feeds BOTH join sides (signature aggregation
    # runs once); the full signature rides along for the hamming
    # filter; released by the caller via unpersist_intermediates()
    banded = sig.select(
        id_col, "simhash",
        F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "simhash", F.col("bb.band").alias("band"),
             F.col("bb.bval").alias("bval"))
    banded, handle = _pin_wide(banded)
    if salt_buckets > 1:
        salt = (md5_long(F.col(id_col).cast("string"))
                % F.lit(salt_buckets)).cast("int")
        left = banded.withColumn("__salt", salt).alias("l")
        right = banded.withColumn(
            "__salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
        ).alias("r")
        join_on = ["band", "bval", "__salt"]
    else:
        left, right = banded.alias("l"), banded.alias("r")
        join_on = ["band", "bval"]
    hamming = F.bit_count(
        F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))

    # first-matching-band emission (the Manku dedup trick): a pair
    # agreeing on several bands would be emitted once per band; instead
    # each band b only emits pairs whose EARLIER bands all differ, so
    # every pair surfaces exactly once and the final DISTINCT shuffle
    # disappears entirely.  Band b' equality is recomputed from the two
    # full signatures riding on the join rows — no extra join.
    def _band_bits(side: str, b: int) -> Column:
        lo = b * width
        w = n_bits - lo if b == bands - 1 else width
        return (F.shiftright(F.col(f"{side}.simhash"), lo)
                .bitwiseAND(F.lit((1 << w) - 1)))

    first_match = F.lit(True)
    for b in range(1, bands):
        prior_differ = F.lit(True)
        for bp in range(b):
            prior_differ = prior_differ & (
                _band_bits("l", bp) != _band_bits("r", bp))
        first_match = F.when(F.col("band") == b, prior_differ) \
            .otherwise(first_match)

    return _attach_cached(
        left.join(right, on=join_on)
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .where(hamming <= max_hamming)
        .where(first_match)
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b")), handle)


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, *, id_col: str, text_col: str,
                        shingle_size: int = 5,
                        threshold: float = 0.8,
                        max_df: int | None = None,
                        prefix_filter: bool | None = None) -> DataFrame:
    """Pairs with Jaccard(shingle sets) ≥ threshold.

    Two candidate-generation shapes, one answer:

    - **shared-shingle self-join** (used when ``max_df`` is set): every
      joined shingle occurs in ≤ max_df docs, so per-shingle fan-out is
      bounded by max_df(max_df−1)/2 regardless of corpus size — the
      cheapest plan when stop-shingle pruning is acceptable (measured
      1.3× cheaper than the prefix path on corpora whose surviving
      shingles are near-unique: 4.4 s vs 6.1 s at sf0.1, 37 s vs 49 s
      at sf1).
    - **PREFIX-FILTERED self-join** (used when ``max_df`` is None —
      exact Jaccard over the FULL vocabulary, where nothing else
      bounds a boilerplate shingle): the published AllPairs / PPJoin
      scheme (Bayardo et al., WWW'07; Xiao et al., WWW'08).  Order
      every document's shingles by a global total order (ascending
      document frequency, rarest first, shingle text tie-break) and
      join only each document's first ``n - ceil(t·n) + 1`` shingles.
      Lossless by the prefix lemma: J(A,B) ≥ t implies
      ``|A∩B| ≥ ceil(t·max(|A|,|B|))``, so the FIRST common element in
      the global order sits inside both prefixes — every qualifying
      pair survives while frequent shingles (deep in every ordering)
      never reach the join.  A size filter (``min(n) ≥ t·max(n)``)
      prunes candidates; exact Jaccard is verified per candidate with
      ``array_intersect`` over the two shingle sets.  Measured
      crossover (r11 grid, SCALING.md; sf1 = 60 k docs, a shared
      sentence prepended to f% of docs, no max_df, identical pairs
      from both paths at every cell): on a CLEAN corpus the plain
      self-join wins (sf1: 30 s vs prefix 40 s — the prefix pays a
      per-document window + dfreq join, ~30% overhead); at f = 1%
      it still wins (31 s vs 41 s); at f = 10% the quadratic term
      takes over and prefix wins 3.4× (43 s vs 149 s); at
      corpus-wide boilerplate (the r10 measurement: ten shared
      words in every doc) the self-join built ≥7.5·10⁹ joined rows
      and did not finish in 10 min where prefix returned the
      identical 328 pairs in 54 s.  At 10⁹ docs the unguarded join
      is 5·10¹³ rows per 1%-frequency shingle — the difference
      between a job and an outage, which is why unbounded-vocabulary
      (max_df=None) defaults to prefix: its worst case is bounded,
      the self-join's is not.

    Returns (id_a, id_b, jaccard) from exact distinct counts:
    ``|∩| / (|A| + |B| - |∩|)``.

    Skew guard: ``max_df`` treats shingles occurring in more than
    ``max_df`` documents as stop-shingles and drops them from the WHOLE
    computation (candidate join, sizes, and intersection counts stay
    mutually consistent — Jaccard is over the pruned vocabulary).
    ``prefix_filter`` overrides the auto choice in either direction
    (both paths are answer-identical — property-pinned on borderline
    pairs at every ceil boundary, test_functions.py).
    """
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            word_shingles(text_col, shingle_size))).alias("__sh"))
    cached = []
    if max_df is not None:
        sh, guard_handles = _stop_shingle_guard(sh, max_df)
        cached.extend(guard_handles)
    # the (filtered) shingle expansion feeds every downstream branch
    # (frequency order, prefix join sides, verification sets); Spark has
    # no cross-branch CSE, so materialize it once — persist() by
    # default, or an explicit parquet intermediate under
    # `dedup.materialize_dir` (the 100-TB posture; see _pin_wide).
    # Handles ride the result for `unpersist_intermediates` (the r9
    # caller contract, same as the minhash/simhash families).
    sh, _h = _pin_wide(sh)
    cached.append(_h)
    if prefix_filter is None:
        prefix_filter = max_df is None   # unbounded vocab -> prefix
    if not prefix_filter:
        return _attach_cached(_jaccard_full_selfjoin(
            sh, id_col=id_col, threshold=threshold), *cached)
    from pyspark.sql import Window

    # global total order: (document frequency ASC, shingle text) —
    # rarest first, so prefixes carry exactly the selective shingles
    dfreq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    wdoc = Window.partitionBy(id_col)
    ranked = (sh.join(dfreq, on="__sh")
              .withColumn("__pos", F.row_number().over(
                  wdoc.orderBy(F.col("__df"), F.col("__sh"))))
              .withColumn("__n", F.count(F.lit(1)).over(wdoc)))
    # epsilon guards (advice r10): t·n is a double product, so for
    # thresholds whose product rounds strictly ABOVE an exact integer
    # (0.07*100 = 7.000000000000001) a bare ceil would give k+1 and
    # shorten the prefix by one shingle — an exact-boundary pair could
    # then be missed, breaking the lossless claim.  Shingle counts are
    # integers (≤ doc length ≪ 1e9), so 1e-9 absorbs the rounding
    # error without ever crossing a true integer boundary.
    eps = 1e-9
    prefix = ranked.where(
        F.col("__pos") <= F.col("__n")
        - F.ceil(F.lit(float(threshold)) * F.col("__n") - eps) + 1)
    left, right = prefix.alias("l"), prefix.alias("r")
    cand = (left.join(right, on="__sh")
            .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            # size filter: J ≥ t forces min(n) ≥ t·max(n); same double
            # edge as the prefix length, same epsilon
            .where(F.least(F.col("l.__n"), F.col("r.__n"))
                   >= F.lit(float(threshold))
                   * F.greatest(F.col("l.__n"), F.col("r.__n")) - eps)
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    sets = sh.groupBy(id_col).agg(
        F.collect_set("__sh").alias("__set"),
        F.count(F.lit(1)).alias("__n"))
    sa = sets.select(F.col(id_col).alias("id_a"),
                     F.col("__set").alias("__sa"),
                     F.col("__n").alias("__na"))
    sb = sets.select(F.col(id_col).alias("id_b"),
                     F.col("__set").alias("__sb"),
                     F.col("__n").alias("__nb"))
    inter = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    return _attach_cached(
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    inter / (F.col("__na") + F.col("__nb") - inter))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard"), *cached)


def _stop_shingle_guard(
        sh: DataFrame, max_df: int) -> tuple[DataFrame, list[DataFrame]]:
    """Apply the ``max_df`` stop-shingle drop-list to a raw
    ``(id, __sh)`` expansion; returns (filtered expansion, persisted
    handles for ``unpersist_intermediates``).  Shared by the Jaccard
    and containment families.

    The raw expansion feeds both the document-frequency branch and the
    anti-join, so it is persisted first (it is the widest
    intermediate).  Drop-list shape (r11): anti-join the STOP shingles
    (df > max_df) instead of semi-joining the keep list — broadcast,
    and the raw expansion never exchanges for the filter (the
    keep-list semi-join sort-merge-shuffled every raw row on __sh;
    measured ~15% faster warm / 2.5x faster cold at sf0.1).  The
    broadcast is SIZE-GATED, not assumed: max_df is an absolute count,
    so on a big enough corpus the stop set grows with the VOCABULARY
    (Heaps' law), not just the language — an unconditional hint would
    collect it to the driver and die at the broadcast cap.  The stop
    frame is persisted and counted first (one small action over the
    already-persisted raw expansion); past the cap the anti-join runs
    as a plain shuffled join, which always completes.
    """
    sh, sh_h = _pin_wide(sh)
    # the stop list is vocab-tail-sized, counted, and (when small)
    # broadcast — persist() is right for it at any scale
    stop = (sh.groupBy("__sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("__sh")).persist()
    n_stop = stop.limit(_STOP_BROADCAST_CAP + 1).count()
    drop = (F.broadcast(stop) if n_stop <= _STOP_BROADCAST_CAP
            else stop)
    return sh.join(drop, on="__sh", how="left_anti"), [sh_h, stop]


def _shared_shingle_counts(sh: DataFrame, *, id_col: str) -> DataFrame:
    """Full shared-shingle self-join: exact per-pair intersection and
    per-doc set sizes — ``(id_a, id_b, __shared, __na, __nb)`` with
    ``id_a < id_b``.  Quadratic in every frequent shingle's document
    frequency, so callers bound it (max_df guard or prefix filter).
    The Jaccard and containment measures are projections of these
    counts."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    left, right = sh.alias("l"), sh.alias("r")
    shared = (left.join(right, on="__sh")
              .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
              .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                       F.col(f"r.{id_col}").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("__shared")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("__n").alias("__nb"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def _jaccard_full_selfjoin(sh: DataFrame, *, id_col: str,
                           threshold: float) -> DataFrame:
    """The pre-r10 candidate shape: full shared-shingle self-join +
    count-based Jaccard.  Same answer as the prefix-filtered path;
    quadratic in every frequent shingle's document frequency."""
    return (_shared_shingle_counts(sh, id_col=id_col)
            .withColumn("jaccard",
                        F.col("__shared")
                        / (F.col("__na") + F.col("__nb")
                           - F.col("__shared")))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def dedup_keep_latest(df: DataFrame, *, keys: list[str], order_col: str,
                      tiebreak: str | None = None) -> DataFrame:
    """Version dedup: keep the most recent row per key group.

    The snapshot/compaction primitive of a training-data pipeline
    (dedupe crawl records to their latest version).  One window pass =
    one shuffle on ``keys``; at 100 TB the map-side is a pure scan and
    AQE splits skewed keys.  ``tiebreak`` breaks equal ``order_col``
    values deterministically (defaults to the first key).
    """
    from pyspark.sql import Window
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def duplicated_span_stats(df: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text",
                          n: int = 8) -> DataFrame:
    """Cross-document duplicated-span statistics: for each document,
    how much of it also appears verbatim somewhere else in the corpus
    — the per-document signal behind exact-substring deduplication
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better": memorized spans come from text repeated across
    documents, and span-level dedup beats whole-document dedup on
    boilerplate-heavy corpora).  The suffix-array formulation of the
    paper is replaced by the shuffle-native fixed-window one: a span
    is an ``n``-token shingle, and a shingle is *duplicated* when it
    occurs in ≥ 2 distinct documents.

    Returns one row per document with ≥ ``n`` tokens:
    ``(id, n_spans, n_dup_spans, dup_ratio)`` where ``n_spans`` counts
    all shingle positions (with multiplicity), ``n_dup_spans`` those
    whose shingle is cross-document duplicated, and
    ``dup_ratio = n_dup_spans / n_spans`` — all integer arithmetic
    plus one exact division, so the DuckDB twin hashes bit-identically.
    Within-document repetition alone does NOT mark a span (that
    signal is ``curation.repetition_stats``); a document shorter than
    ``n`` tokens has no spans and is absent.

    Scale shape: explode → distinct(doc, shingle) → groupBy(shingle)
    counts distinct containing docs (two map-side-combined shuffles on
    the shingle key, never ``countDistinct``'s per-group hash sets),
    filtered down to the DUPLICATED spans only before any join — on a
    mostly-unique corpus that set is a tiny fraction of the
    vocabulary, so the per-position rows equi-join a small frame (AQE
    broadcasts it) instead of the full count table, and ``n_spans``
    itself is a pure expression (``tokens - n + 1``), no join needed.
    No self-join, nothing quadratic, nothing driver-side.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    # spans shuffle as fixed-width md5 digests, not raw n-token
    # strings — the shuffled key is 32 bytes no matter how long the
    # tokens are (md5 is the collision-free-in-practice primitive the
    # whole dedup family already rests on)
    eligible = df.where(F.size(words(text_col)) >= n)
    # the span expansion (explode + md5, the widest intermediate)
    # feeds BOTH the dup-count branch and the per-doc hit count —
    # materialize it once (Spark has no cross-branch CSE); released
    # by the caller via unpersist_intermediates(), the shared
    # dedup-family contract (same as drop_duplicated_spans).
    spans = eligible.select(
        F.col(id_col),
        F.explode(F.transform(word_shingles(text_col, n), F.md5))
        .alias("__span"))
    spans, spans_h = _pin_wide(spans)
    dup = (spans.select(id_col, "__span").distinct()
           .groupBy("__span")
           .agg(F.count(F.lit(1)).alias("__ndocs"))
           .where(F.col("__ndocs") >= 2).select("__span"))
    dup_hits = (spans.join(dup, on="__span")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__ndup")))
    n_spans = (F.size(words(text_col)) - F.lit(n - 1)).cast("long")
    return _attach_cached(
        eligible.select(F.col(id_col), n_spans.alias("n_spans"))
        .join(dup_hits, on=id_col, how="left")
        .select(id_col, "n_spans",
                F.coalesce(F.col("__ndup"), F.lit(0).cast("long"))
                .alias("n_dup_spans"),
                (F.coalesce(F.col("__ndup"), F.lit(0.0))
                 .cast("double") / F.col("n_spans").cast("double"))
                .alias("dup_ratio")), spans_h)


def drop_duplicated_spans(df: DataFrame, *, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 8,
                          out_col: str = "text_scrubbed") -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the apply half of
    :func:`duplicated_span_stats` (Lee et al. 2021 remove repeated
    substrings rather than whole documents; span removal beats
    document dropping on boilerplate-heavy corpora because it keeps
    the unique remainder).  Every token covered by any ``n``-token
    span that occurs verbatim in ≥ 2 distinct documents is cut;
    ``out_col`` holds the surviving tokens re-joined by single spaces
    (whitespace is normalized as a side effect; null text scrubs to
    the empty string).  Adds ``n_tokens``/``n_tokens_kept`` so the
    removal rate is queryable without re-tokenizing.

    Deterministic in the corpus alone — both removal sides of a
    duplicate pair are cut (the paper's choice: what remains is
    guaranteed unique at span granularity, and no victim-ordering
    coordination is needed across 1000 executors).

    Scale shape: the span-count pipeline of
    :func:`duplicated_span_stats` (explode → distinct → count → join,
    md5 span keys), then the per-document duplicated START POSITIONS
    gather with ``collect_set`` (bounded by tokens-per-document, never
    corpus-sized), left-join back to the documents, and one pure-JVM
    array pass rebuilds the text.  The rebuild is LINEAR,
    O(tokens + dup_starts) per document: every start opens the fixed
    interval ``[s, s+n-1]``, so on the SORTED start array the kept
    indices are exactly the head before the first start, the gaps
    between consecutive starts more than ``n`` apart, and the tail
    after the last interval — three ``sequence`` constructions, each
    index generated once, no per-token scan of the start array (the
    r13 shape was O(tokens × dup_starts): an ``exists`` probe of the
    array at every token position — measured 28 s → 6 s at 16k-token
    boilerplate-heavy docs, see SCALING.md r14).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    clash = {out_col, "n_tokens", "n_tokens_kept"} & set(df.columns)
    if clash:
        raise ValueError(
            f"drop_duplicated_spans adds {sorted(clash)} but the input "
            f"already has such column(s) — drop or rename them first")
    base = df.withColumn(
        "__toks", words(F.coalesce(F.col(text_col), F.lit(""))))
    # the span expansion (explode + md5, the widest intermediate)
    # feeds BOTH the dup-count branch and the starts gather —
    # materialize it once; released by the caller via
    # unpersist_intermediates() (the shared dedup-family contract)
    spans = (base.where(F.size("__toks") >= n)
             .select(F.col(id_col),
                     F.posexplode(
                         F.transform(word_shingles(text_col, n), F.md5))
                     .alias("__s", "__h")))
    spans, spans_h = _pin_wide(spans)
    dup = (spans.select(id_col, "__h").distinct()
           .groupBy("__h").agg(F.count(F.lit(1)).alias("__ndocs"))
           .where(F.col("__ndocs") >= 2).select("__h"))
    starts = (spans.join(dup, on="__h")
              .groupBy(id_col)
              .agg(F.sort_array(F.collect_set("__s")).alias("__ss")))
    joined = (base.join(starts, on=id_col, how="left")
              .withColumn("__ss", F.coalesce(
                  F.col("__ss"), F.array().cast("array<int>"))))
    # interval-merged coverage on the sorted start array: kept =
    # head ∪ between-interval gaps ∪ tail.  Every branch is guarded
    # (CASE WHEN evaluates lazily) so sequence() never sees a
    # descending range; words() never yields an empty array, so the
    # no-duplicates head sequence(0, t-1) is always well-formed.
    ss = F.col("__ss")
    t = F.size("__toks")
    k = F.size(ss)
    empty_i = F.array().cast("array<int>")
    head_end = F.when(k > 0, F.element_at(ss, 1) - 1).otherwise(t - 1)
    head = (F.when(head_end >= 0, F.sequence(F.lit(0), head_end))
            .otherwise(empty_i))
    gaps = (F.when(k >= 2, F.flatten(F.zip_with(
        F.slice(ss, 1, k - 1), F.slice(ss, 2, k - 1),
        lambda a, b: F.when(b - a > F.lit(n),
                            F.sequence(a + F.lit(n), b - 1))
        .otherwise(F.array().cast("array<int>")))))
        .otherwise(empty_i))
    last_end = F.element_at(ss, -1) + F.lit(n)
    tail = (F.when((k > 0) & (last_end <= t - 1),
                   F.sequence(last_end, t - 1))
            .otherwise(empty_i))
    kept = F.concat(head, gaps, tail)
    return _attach_cached(
        joined
        .withColumn("n_tokens", F.size("__toks").cast("long"))
        .withColumn("n_tokens_kept", F.size(kept).cast("long"))
        .withColumn(out_col, F.array_join(
            F.transform(kept,
                        lambda j: F.element_at("__toks", j + 1)),
            " "))
        .drop("__toks", "__ss"), spans_h)


def ngram_containment_pairs(df: DataFrame, *, id_col: str,
                            text_col: str, shingle_size: int = 5,
                            threshold: float = 0.9,
                            max_df: int) -> DataFrame:
    """Pairs where one document's shingle set is mostly CONTAINED in
    the other's: ``C(A→B) = |A∩B| / |A|`` — the asymmetric complement
    of :func:`ngram_jaccard_pairs`.  Jaccard misses the
    quote-inclusion / boilerplate-wrapper case (a short document fully
    embedded in a long one scores J = |A|/|B| ≈ 0 but C(A→B) = 1);
    containment is how a corpus finds "this doc is a subset of that
    one" — near-dup news wire copies, quoted forwards, template
    expansions.

    Returns ``(id_a, id_b, containment_a_in_b, containment_b_in_a)``
    (``id_a < id_b``) for pairs whose LARGER containment ≥
    ``threshold``; both directions are reported so the caller can pick
    the victim (usually the contained side).  All counts are exact
    distinct-shingle integers; the divisions are single exact IEEE
    ops, so the DuckDB twin hashes bit-identically.

    ``max_df`` is REQUIRED, not defaulted: candidates come from a
    shared-shingle self-join, and unlike Jaccard there is no lossless
    AllPairs/PPJoin prefix filter implemented for the asymmetric
    measure (the prefix lemma bounds |A∩B| relative to BOTH sizes;
    containment only bounds it relative to |A|, so a frequent shingle
    deep in B's ordering can still complete a qualifying pair).  The
    stop-shingle guard is therefore the scale contract: per-shingle
    join fan-out is bounded by ``max_df²/2`` at any corpus size, and
    containment is computed over the pruned vocabulary (sizes and
    intersections stay mutually consistent, same as the Jaccard
    guard).
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    if max_df < 1:
        raise ValueError("max_df must be >= 1")
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(
            word_shingles(text_col, shingle_size))).alias("__sh"))
    sh, handles = _stop_shingle_guard(sh, max_df)
    # the guarded expansion feeds sizes AND both self-join sides
    sh, _h = _pin_wide(sh)
    handles.append(_h)
    c_ab = F.col("__shared").cast("double") / F.col("__na")
    c_ba = F.col("__shared").cast("double") / F.col("__nb")
    return _attach_cached(
        _shared_shingle_counts(sh, id_col=id_col)
        .withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .where(F.greatest(F.col("containment_a_in_b"),
                          F.col("containment_b_in_a"))
               >= F.lit(float(threshold)))
        .select("id_a", "id_b", "containment_a_in_b",
                "containment_b_in_a"),
        *handles)
