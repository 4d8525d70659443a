"""Overlay views: NEW variables over a read-only base collection.

Re-expresses ``/root/reference/zcollection/view/base.py:53`` for Spark.  A
view is a sibling partitioned parquet table with the SAME partition keys as
its base, holding only the overlay variables plus the positional identity
column ``_row_idx`` (the durable replacement for the reference's implicit
array position — SURVEY §7 "row-position semantics").  Reads are a
partition-co-located equi-join on ``(partition keys, _row_idx)``; with both
sides partitioned identically the shuffle is key-aligned, and at scale the
join can be made shuffle-free with bucketing on the same keys.

Semantics preserved from the reference:

- overlay variable names must NOT collide with base names and their
  dimensions must exist in the base schema (``view/base.py:419-433``);
- missing overlay partitions → base rows pass through with nulls
  (``view/base.py:232-314``: "missing overlay partitions → base only");
- ``update`` fns returning unknown variables raise; declared-but-missing
  variables are skipped (null-filled) (``view/base.py:318-407``).
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as fsmod
from .collection.collection import (Collection, ROW_IDX, open_collection)
from .errors import StoreError, ViewError
from .schema import VariableSchema, dtype_to_spark

VIEW_CONFIG_NAME = "_zcollection_view.json"


class View:
    """Overlay collection bound to a base collection."""

    def __init__(self, spark: SparkSession, path: str, base: Collection,
                 variables: tuple[VariableSchema, ...]):
        self.spark = spark
        self.path = path.rstrip("/")
        self.base = base
        self.variables = variables
        self._fs = fsmod.fs_for(self.path, spark)

    # ------------------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, path: str, *, base: Collection,
               variables: Iterable[VariableSchema | Mapping],
               overwrite: bool = False) -> "View":
        """Declare overlay variables (``view/base.py:83-190``)."""
        path = fsmod.strip_scheme(path).rstrip("/")
        fs = fsmod.fs_for(path, spark)
        config_path = f"{path}/{VIEW_CONFIG_NAME}"
        if fs.exists(config_path) and not overwrite:
            raise ViewError(f"view exists at {path!r}")
        resolved: list[VariableSchema] = []
        base_vars = base.schema.variable_map
        base_dims = base.schema.dim_map
        for var in variables:
            if isinstance(var, Mapping):
                var = VariableSchema(
                    name=var["name"], dtype=var["dtype"],
                    dimensions=tuple(var.get("dimensions", (base.axis,))))
            if var.name in base_vars:
                raise ViewError(
                    f"overlay variable {var.name!r} collides with a base "
                    f"variable (view/base.py:419-433)")
            for dim in var.dimensions:
                if dim not in base_dims:
                    raise ViewError(
                        f"overlay variable {var.name!r} references unknown "
                        f"dimension {dim!r}")
            dtype_to_spark(var.dtype)
            resolved.append(var)
        doc = {"format_version": 1, "base": base.path,
               "variables": [
                   {"name": v.name, "dtype": v.dtype,
                    "dimensions": list(v.dimensions)} for v in resolved]}
        fs.write_text(config_path, json.dumps(doc, indent=1, sort_keys=True))
        return cls(spark, path, base, tuple(resolved))

    @classmethod
    def open(cls, spark: SparkSession, path: str, *,
             base: Collection | None = None) -> "View":
        path = fsmod.strip_scheme(path).rstrip("/")
        fs = fsmod.fs_for(path, spark)
        config_path = f"{path}/{VIEW_CONFIG_NAME}"
        if not fs.exists(config_path):
            raise ViewError(f"no view at {path!r}")
        try:
            doc = json.loads(fs.read_text(config_path))
        except ValueError as exc:
            raise StoreError(f"unreadable view config: {exc}") from None
        if base is None:
            base = open_collection(spark, doc["base"])
        variables = tuple(
            VariableSchema(name=v["name"], dtype=v["dtype"],
                           dimensions=tuple(v["dimensions"]))
            for v in doc["variables"])
        return cls(spark, path, base, variables)

    # ------------------------------------------------------------------
    @property
    def keys(self) -> tuple[str, ...]:
        return self.base.partitioning.keys

    def _overlay_df(self) -> DataFrame | None:
        relpaths = self._fs.list_partition_dirs(self.path,
                                                self.base.partitioning.depth)
        if not relpaths:
            return None
        return (self.spark.read.option("basePath", self.path)
                .parquet(*(f"{self.path}/{rel}" for rel in relpaths)))

    def update(self, fn: Callable, *, filters: str | None = None,
               variables: Iterable[str] | None = None) -> list[str]:
        """Per base partition: ``fn(base_pdf) -> pdf of overlay columns``
        (``view/base.py:318-407``).

        ``fn`` receives the base partition as a pandas DataFrame sorted by
        ``_row_idx`` and must return an equal-length frame containing a
        subset of the declared overlay variables (unknown names raise,
        declared-but-missing are null-filled).  Runs as one
        ``applyInPandas`` over the partition grouping; writes only overlay
        partitions matching ``filters``.
        """
        declared = {v.name for v in self.variables}
        keys = list(self.keys)
        base_df = self.base._load(filters=filters, keep_internal=True)
        if base_df is None:
            return []
        wanted = set(variables) if variables is not None else None
        if wanted is not None:
            keep = [c for c in base_df.columns
                    if c in wanted or c in keys or c == ROW_IDX]
            base_df = base_df.select(*keep)
        base_df = self.base._attach_immutable(base_df, wanted)
        fields = [base_df.schema[k] for k in keys]
        fields.append(T.StructField(ROW_IDX, T.IntegerType(), False))
        dims = self.base.schema.dim_map
        for var in self.variables:
            fields.append(T.StructField(
                var.name, var.spark_type(dims, self.base.axis), True))
        out_schema = T.StructType(fields)

        overlay_vars = self.variables

        def wrapper(pdf):
            import pandas as pd
            pdf = pdf.sort_values(ROW_IDX).reset_index(drop=True)
            result = fn(pdf)
            if isinstance(result, Mapping):
                result = pd.DataFrame(dict(result))
            unknown = set(result.columns) - declared
            if unknown:
                raise ViewError(
                    f"update fn produced unknown overlay variables "
                    f"{sorted(unknown)}")
            if len(result) != len(pdf):
                raise ViewError(
                    f"update fn changed partition length "
                    f"{len(pdf)} -> {len(result)}")
            out = pd.DataFrame()
            for key in keys:
                out[key] = pdf[key].values
            out[ROW_IDX] = pdf[ROW_IDX].values
            for var in overlay_vars:
                out[var.name] = (result[var.name].values
                                 if var.name in result.columns else None)
            return out

        updated = base_df.groupBy(*keys).applyInPandas(wrapper, out_schema)
        (updated.repartition(*[F.col(k) for k in keys])
         .sortWithinPartitions(*keys, ROW_IDX)
         .write.mode("overwrite").partitionBy(*keys).parquet(self.path))
        return self.base.partitions(filters=filters)

    def query(self, *, filters: str | None = None,
              variables: Iterable[str] | None = None,
              ordered: bool = True,
              nested: bool = False) -> DataFrame | None:
        """Merged base+overlay read (``view/base.py:232-314``): a left join
        on ``(keys, _row_idx)`` — base rows without overlay rows pass
        through with nulls.  ``nested=True`` returns the group tree as
        real struct columns (same contract as ``Collection.query``)."""
        base_df = self.base._load(filters=filters, keep_internal=True)
        if base_df is None:
            return None
        keys = list(self.keys)
        overlay = self._overlay_df()
        wanted = set(variables) if variables is not None else None
        if overlay is not None:
            overlay_cols = [c for c in overlay.columns
                            if c not in keys and c != ROW_IDX]
            if wanted is not None:
                overlay_cols = [c for c in overlay_cols
                                if c in wanted
                                or c.rsplit("/", 1)[-1] in wanted]
            if overlay_cols:
                joined = base_df.join(
                    overlay.select(*keys, ROW_IDX, *overlay_cols),
                    on=[*keys, ROW_IDX], how="left")
            else:
                joined = base_df
        else:
            joined = base_df
        # project like Collection.query: partitioned vars (+ overlay), then
        # attach base immutables
        base_keep = [v.name for v in self.base.schema.partitioned_variables
                     if v.name in joined.columns]
        if wanted is not None:
            base_keep = [c for c in base_keep
                         if c in wanted or c.rsplit("/", 1)[-1] in wanted]
        overlay_keep = [v.name for v in self.variables
                        if v.name in joined.columns
                        and (wanted is None or v.name in wanted
                             or v.name.rsplit("/", 1)[-1] in wanted)]
        joined = joined.select(*base_keep, *overlay_keep)
        joined = self.base._attach_immutable(joined, wanted)
        if ordered:
            # the sort must be the LAST operator (after the projection and
            # the _attach_immutable crossJoin) — Catalyst's EliminateSorts
            # drops sorts buried under joins/projections, so an earlier
            # orderBy could silently disappear (see Collection.query)
            sort_cols = [c for c in (*keys, self.base.axis)
                         if c in joined.columns]
            if sort_cols:
                joined = joined.orderBy(*sort_cols)
        if nested:
            from .schema import nest_struct_columns
            joined = nest_struct_columns(joined)
        return joined

    def drop(self) -> None:
        self._fs.delete(self.path)

    def __repr__(self) -> str:
        return (f"View(path={self.path!r}, base={self.base.path!r}, "
                f"variables={[v.name for v in self.variables]})")
