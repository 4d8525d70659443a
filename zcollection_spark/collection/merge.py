"""Merge strategies — the reference's upsert family as DataFrame programs.

Re-expresses ``/root/reference/zcollection/collection/merge.py``.  The
reference invokes a ``MergeCallable`` once per colliding partition with both
sides materialized in driver memory; here each strategy is ONE distributed
DataFrame program over *all* colliding partitions at once, with the
per-partition semantics recovered by grouping, joining or windowing on the
partition-key columns.  The exact ``upsert`` and ``time_series`` are window
filters over the union of both sides, each row tagged with its side: the
window is partitioned by the partition keys and ordered by
:func:`axis_order`, which is the distribution and order the write itself
needs, so the merge and the write share one shuffle (no join, no
broadcast, no second exchange).

Signature: ``fn(existing, inserted, *, axis, keys) -> DataFrame`` where both
frames carry the partition-key columns.  String aliases resolved by
:func:`resolve_merge` (``merge.py:424-462``; ``None`` → replace).
"""

from __future__ import annotations

from typing import Callable, Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


class MergeCallable(Protocol):
    def __call__(self, existing: DataFrame, inserted: DataFrame, *,
                 axis: str, keys: tuple[str, ...]) -> DataFrame: ...


def _union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Outer-union: one-sided variables pass through as nulls
    (the reference's ``_concat_along``, ``merge.py:329-361``)."""
    return a.unionByName(b, allowMissingColumns=True)


def replace(existing: DataFrame, inserted: DataFrame, *, axis: str,
            keys: tuple[str, ...]) -> DataFrame:
    """Inserted wins outright (``merge.py:87-106``)."""
    return inserted


def concat(existing: DataFrame, inserted: DataFrame, *, axis: str,
           keys: tuple[str, ...]) -> DataFrame:
    """Append after existing; no dedup, no sort (``merge.py:109-129``)."""
    return _union(existing, inserted)


def _tagged_union(existing: DataFrame, inserted: DataFrame
                  ) -> tuple[DataFrame, str]:
    """Both sides in one frame with a boolean column, true on the
    inserted rows, and that column's name.  No variable of either side
    starts with the name, so the merges' helper columns (the name plus
    a suffix) never shadow a variable."""
    tag = "__ins"
    while any(c.startswith(tag)
              for c in (*existing.columns, *inserted.columns)):
        tag += "_"
    both = _union(existing.withColumn(tag, F.lit(False)),
                  inserted.withColumn(tag, F.lit(True)))
    return both, tag


def axis_order(axis: str) -> Column:
    """Row order along the axis within a partition, nulls last: the
    order of the write's ``_row_idx`` and of the merge windows, so the
    merge's sort is the write's."""
    return F.col(axis).asc_nulls_last()


def _axis_value(frame: DataFrame, axis: str) -> Column:
    """The axis value both exact merges test: a float NaN reads as
    null.  The zarr layout stores a null float as NaN, which Spark
    orders above every number and matches to itself; through this one
    rule it never matches and is never outside the inserted bounds,
    like a null (and like ``numpy.isin``)."""
    value = F.col(axis)
    dtype = frame.schema[axis].dataType
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        value = F.nanvl(value, F.lit(None).cast(dtype))
    return value


def time_series(existing: DataFrame, inserted: DataFrame, *, axis: str,
                keys: tuple[str, ...]) -> DataFrame:
    """Drop existing rows with ``axis ∈ [inserted.min, inserted.max]``
    *per partition*, then concat (``merge.py:132-186``).

    The bounds are the min/max of the inserted rows' axis over each
    partition of the tagged union (an unbounded window frame), so one
    exchange on the partition keys carries both the merge and the
    write.  An existing null-axis row is dropped whenever its partition
    has bounds (the comparison is null), and kept when it has none.
    A float NaN axis value counts as null on both sides
    (:func:`_axis_value`).
    """
    both, tag = _tagged_union(existing, inserted)
    whole = (Window.partitionBy(*keys).orderBy(axis_order(axis))
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    value = _axis_value(existing, axis)
    ins_axis = F.when(F.col(tag), value)
    lo, hi = f"{tag}_lo", f"{tag}_hi"
    return (both
            .select("*", F.min(ins_axis).over(whole).alias(lo),
                    F.max(ins_axis).over(whole).alias(hi))
            .where(F.col(tag) | F.col(lo).isNull()
                   | (value < F.col(lo)) | (value > F.col(hi)))
            .drop(tag, lo, hi))


def _axis_distance(left: Column, right: Column, dtype: T.DataType) -> Column:
    """|left - right| in axis units (seconds for timestamps)."""
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.abs(left.cast("double") - right.cast("double"))
    return F.abs(left - right)


def upsert(existing: DataFrame, inserted: DataFrame, *, axis: str,
           keys: tuple[str, ...], tolerance: float | None = None
           ) -> DataFrame:
    """Keep existing rows whose axis value has no match in the inserted
    slice of the same partition; then concat (``merge.py:189-279``).

    Exact mode: a window over the tagged union of both sides,
    partitioned by the keys and ordered by the axis.  Its RANGE frame
    ``CURRENT ROW .. CURRENT ROW`` spans exactly the rows of equal axis
    value, so ``max(inserted)`` over it says whether the inserted slice
    holds that value — the reference's per-partition ``numpy.isin``.
    A null or NaN axis value never matches (as in an equi-join, and as
    ``numpy.isin`` treats NaN; :func:`_axis_value`).  The window's
    exchange and sort are the ones the write needs, so the upsert
    costs no shuffle of its own.  Tolerance mode: an existing row is
    dropped when ANY inserted axis value in the same partition lies
    within ``tolerance`` — equivalent to the reference's
    nearest-within-tolerance ``searchsorted`` check (``merge.py:262-272``:
    the nearest value is within tolerance iff any value is).  Expressed
    as a GRID anti-join: bucket width = tolerance, each inserted value
    fans out to its bucket ±1, the anti-join is an equi-join on
    ``(keys, bucket)`` with the exact distance filter in the condition —
    a match within tolerance is always in an adjacent bucket, and the
    plan stays a shuffled anti-join at any batch size (no forced
    broadcast, no nested loop).
    """
    if tolerance is None or float(tolerance) == 0.0:
        # tolerance 0 == exact equality (searchsorted nearest within 0)
        both, tag = _tagged_union(existing, inserted)
        peers = (Window.partitionBy(*keys).orderBy(axis_order(axis))
                 .rangeBetween(Window.currentRow, Window.currentRow))
        hit = f"{tag}_hit"
        return (both
                .withColumn(hit, F.max(F.col(tag)).over(peers))
                .where(F.col(tag) | _axis_value(existing, axis).isNull()
                       | ~F.col(hit))
                .drop(tag, hit))
    # the axis may itself BE a partition key (Sequence partitioning on
    # the axis column): dedupe so the join key list stays unambiguous
    on_cols = list(dict.fromkeys([*keys, axis]))
    ins_axis = inserted.select(*on_cols).distinct()
    dtype = existing.schema[axis].dataType
    tol = float(tolerance)

    def numeric(col: Column) -> Column:
        return col.cast("double") if isinstance(
            dtype, (T.TimestampType, T.TimestampNTZType)) else col

    e_bucket = F.floor(numeric(existing[axis]) / F.lit(tol))
    ins_bucket = F.floor(numeric(F.col("__ins_axis")) / F.lit(tol))
    # keep the key columns intact when the axis is one of them
    aliased = (ins_axis.withColumn("__ins_axis", F.col(axis))
               if axis in keys
               else ins_axis.withColumnRenamed(axis, "__ins_axis"))
    fanned = (aliased
              .withColumn("__bucket", F.explode(F.transform(
                  F.array(F.lit(-1), F.lit(0), F.lit(1)),
                  lambda d: d + ins_bucket))))
    cond = e_bucket == fanned["__bucket"]
    for key in keys:
        cond = cond & (existing[key] == fanned[key])
    cond = cond & (_axis_distance(existing[axis],
                                  fanned["__ins_axis"],
                                  dtype) <= F.lit(tol))
    kept = existing.join(fanned, on=cond, how="left_anti")
    return _union(kept, inserted)


def upsert_within(tolerance: float) -> MergeCallable:
    """Factory baking a tolerance into :func:`upsert`
    (``merge.py:282-323`` — string aliases can't carry arguments)."""
    def merge(existing: DataFrame, inserted: DataFrame, *, axis: str,
              keys: tuple[str, ...]) -> DataFrame:
        return upsert(existing, inserted, axis=axis, keys=keys,
                      tolerance=tolerance)
    merge.__name__ = f"upsert_within({tolerance})"
    return merge


_ALIASES: dict[str, MergeCallable] = {
    "replace": replace, "concat": concat, "time_series": time_series,
    "upsert": upsert,
}


def resolve_merge(merge: str | MergeCallable | None) -> MergeCallable:
    """``None`` → replace; strings resolved; callables passed through
    (``merge.py:424-462``)."""
    if merge is None:
        return replace
    if callable(merge):
        return merge
    try:
        return _ALIASES[merge]
    except KeyError:
        raise ValueError(
            f"unknown merge strategy {merge!r}; one of {sorted(_ALIASES)} "
            f"or a callable") from None
