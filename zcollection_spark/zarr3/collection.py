"""Zarr v3 layout of the collection core (``data_format: "zarr3"``).

:class:`ZarrCollection` is a :class:`~zcollection_spark.collection.
Collection`: the catalog, pruning, time travel, merges, staged publish,
retention, ``update``/``map`` and schema evolution are the core's.  This
module holds only what storing a partition as one Zarr v3 group (the
reference's on-disk layout, README.rst:21-54) needs:

- **encode** — each write task writes its partition's group directly
  from the executor: chunked, zstd-coded arrays
  (``io/partition.py:145-169`` semantics), the partition key stamped
  into the group attributes as ``_zc_partition_key``
  (``collection/base.py:508-516``).  A null double is stored as NaN; a
  null integer, bool or string is stored as the variable's
  ``fill_value``, and without one the write raises
  :class:`SchemaError` (``_stored_values``).
- **statistics** — zone maps and blooms are built by the same write
  task from the arrays it encodes, and ride the write job's collect
  into the publish: no Spark job of their own, and they describe what
  zarr stores (a NaN keeps no bounds).
- **decode** — reads scan the partition list the core resolved, one
  Spark task per partition, decoding only the requested arrays
  (``_read_partitions``).  The ``zarr3`` Python DataSource
  (``datasource.py``) stays the raw ``spark.read/write.format("zarr3")``
  surface and shares the decoder.
- **immutables** — a write-once ``_immutable`` group, attached to reads
  as literals.

Plus two zarr-only reads: :meth:`ZarrCollection.read_row_ranges`
(chunk-level partial reads driven by an index lookup) and
:meth:`ZarrCollection.to_df`.

Scope: numeric/bool/datetime variables (Zarr v3 core types) plus
variable-length strings (v3 "string" data type via the vlen-utf8 codec).
Raw bytes stay on the parquet layout.
"""

from __future__ import annotations

import json
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.errors import PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as engine_config
from ..collection import staging as staging_proto
from ..collection.collection import Collection, _create, open_collection
from ..collection.stats import bloom_kind_of
from ..errors import SchemaError
from ..fs import LocalFS, capture_blob_conf, task_fs
# metadata I/O goes through the collection core's ``fs.fs_for``; the
# name stays importable here for instrumentation that wraps it per module
from ..fs import fs_for  # noqa: F401
from ..partitioning import Partitioning
from ..schema import DatasetSchema, dtype_to_spark
from . import datasource
from .core import read_array, write_array, write_group
from .sharding import shard_decision


def _stored_values(series: pd.Series, name: str, dtype: str, fill,
                   rel: str) -> np.ndarray:
    """A 1-D variable's values exactly as its Zarr array stores them.

    Zarr has no null: a float null is stored as NaN (and reads back as
    NaN), a datetime null as NaT; an integer, bool or string null has
    no faithful encoding, so it is written as the variable's declared
    ``fill_value`` — or rejected, naming the variable and partition,
    rather than silently stored as INT64_MIN, ``False`` or ``''``."""
    # v3 "string" data type via the vlen-utf8 codec (core.py)
    vlen = dtype in ("str", "vlen-utf8")
    values = series.to_numpy(dtype=object) if vlen else series.to_numpy()
    if vlen or np.dtype(dtype).kind in "iubU":
        nulls = series.isna().to_numpy()
        if nulls.any():
            if fill is None:
                raise SchemaError(
                    f"variable {name!r} holds {int(nulls.sum())} null(s) "
                    f"in partition {rel!r}: zarr cannot store a null "
                    f"{dtype} — declare a fill_value for the variable "
                    f"or drop the nulls before writing")
            values = np.where(nulls, fill, values)
    if vlen:
        return np.asarray(values, dtype=object)
    if dtype.startswith("datetime"):
        return values.astype("datetime64[us]")
    return values.astype(np.dtype(dtype))


def write_partition_group(spec: dict, pdf: pd.DataFrame) -> tuple[str, dict]:
    """Write ONE partition's rows as a Zarr v3 group (executor side).

    ``spec`` comes from ``ZarrCollection._write_spec``; the same routine
    backs the collection insert path (``applyInPandas``) and the raw
    ``df.write.format("zarr3")`` DataSource writer.  All rows in ``pdf``
    must share one partition key; the group is rewritten wholesale
    (reference ``collection/base.py:481-519`` semantics, minus the
    fragmented-key race — callers shuffle by key first).

    Returns ``(relpath, stats)``: ``stats`` is the partition's catalog
    statistics entry — zone maps for ``spec["stats_columns"]``, blooms
    for ``spec["bloom_kinds"]`` (both optional) — built from the very
    arrays encoded here, so it describes what the group stores.
    """
    from ..collection.stats import bloom_entry, zone_entry
    from ..partitioning import from_json as pj
    part = pj(json.loads(spec["partitioning_json"]))
    axis = spec["axis"]
    key = {k: int(pdf[k].iloc[0]) for k in spec["keys"]}
    rel = part.encode(key)
    root = str(spec["root"])
    fs = task_fs(root, spec.get("blob_conf"))
    group_path = f"{root}/{rel}"
    pdf = (pdf.sort_values(axis).reset_index(drop=True)
           if axis in pdf.columns else pdf.reset_index(drop=True))
    # partition rewrite is wholesale: clear stale chunks from any
    # previous (larger) incarnation before writing.  Staging dirs are
    # always fresh, so this only fires on direct (non-staged) writes —
    # local paths only; object-store staging never hits it.
    if isinstance(fs, LocalFS):
        fs.delete(group_path)
    write_group(group_path, {"_zc_partition_key": json.dumps(key)},
                fs=fs)
    chunk_rows = spec["chunk_rows"]
    # nested-group variables ("a/b/var") need explicit Zarr group docs at
    # every intermediate level (the reference recurses nested groups,
    # io/partition.py:235-265; v3 spec requires group metadata nodes)
    seen_groups: set = set()
    for name, _, _ in spec["var_meta"]:
        parts = name.split("/")[:-1]
        for depth in range(1, len(parts) + 1):
            rel_group = "/".join(parts[:depth])
            if rel_group not in seen_groups:
                seen_groups.add(rel_group)
                write_group(f"{group_path}/{rel_group}", {}, fs=fs)
    stored: dict[str, np.ndarray] = {}
    for name, dtype, extra in spec["var_meta"]:
        series = pdf[name]
        if extra:  # nD variable stored as array column
            values = np.asarray([np.asarray(v) for v in series.to_list()])
            values = values.astype(
                np.dtype(dtype) if not dtype.startswith("datetime")
                else "datetime64[us]")
            chunk = (min(chunk_rows, len(values)) or 1, *extra)
        else:
            values = _stored_values(series, name, dtype,
                                    spec["fill_values"].get(name), rel)
            stored[name] = values
            chunk = (min(chunk_rows, len(values)) or 1,)
        shard = None if values.dtype == object else shard_decision(
            chunk, values.shape, values.dtype, spec["shard_budget"])
        write_array(f"{group_path}/{name}", values, chunk_shape=chunk,
                    shard_shape=shard, codec="zstd", level=spec["level"],
                    fs=fs)
    stats = {col: zone_entry(stored[col])
             for col in spec.get("stats_columns", ()) if col in stored}
    for col, kind in spec.get("bloom_kinds", {}).items():
        if col in stored:
            stats[f"{col}#bloom"] = bloom_entry(stored[col], kind,
                                                spec["bloom_bits"])
    return rel, stats


def create_zarr_collection(spark: SparkSession, path: str, *,
                           schema: DatasetSchema, axis: str,
                           partitioning: Partitioning,
                           stats_columns=None,
                           bloom_columns=None,
                           bloom_bits: int = 1024,
                           overwrite: bool = False) -> "ZarrCollection":
    """``create_collection`` for the zarr layout: the root config records
    ``data_format: "zarr3"``, and the root is a Zarr group too."""
    coll = _create(ZarrCollection, spark, path, schema=schema, axis=axis,
                   partitioning=partitioning, stats_columns=stats_columns,
                   bloom_columns=bloom_columns, bloom_bits=bloom_bits,
                   overwrite=overwrite)
    write_group(coll.path, {"zcollection": True}, fs=coll._fs)
    return coll


def open_zarr_collection(spark: SparkSession, path: str) -> "ZarrCollection":
    """A writable handle on an existing collection; the root config's
    ``data_format`` picks the layout (see ``open_collection``)."""
    return open_collection(spark, path, mode="rw")


class ZarrCollection(Collection):
    """A :class:`Collection` whose partitions are Zarr v3 groups; it
    overrides only the storage hooks."""

    data_format = "zarr3"
    # a partition is one group, rewritten whole: merge="concat" runs
    # the merge path like every other strategy
    _appends_in_place = False

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        # partitions are read and written by Spark tasks: a root they
        # cannot reach (memory://, a scheme with no credentialed Python
        # client) fails here, before anything is written
        task_fs(self.path)
        # full-scan plan cache, keyed on the catalog generation (to_df)
        self._df_cache: dict = {}
        datasource.register(self.spark)

    @classmethod
    def _check_storable(cls, variables, *, evolved: bool = False) -> None:
        for var in variables:
            if var.dtype in ("bytes", "vlen-bytes"):
                raise SchemaError(
                    f"variable {var.name!r}: bytes dtypes are not "
                    f"supported by the zarr3 layout (use the parquet "
                    f"layout)")
            if evolved and var.fill_value is None:
                raise SchemaError(
                    "zarr schema evolution requires a fill_value (old "
                    "partitions have no array node to read)")

    # -- immutables ----------------------------------------------------
    def _write_immutable(self, df: DataFrame) -> None:
        """Lift non-axis variables into a write-once ``_immutable`` Zarr
        group (``io/immutable.py:48-98`` parity)."""
        imm_vars = [v for v in self.schema.immutable_variables
                    if v.name in df.columns]
        if not imm_vars:
            return
        imm_path = f"{self.path}/_immutable"
        if self._fs.exists_file(f"{imm_path}/zarr.json"):
            return
        row = df.select(*[v.name for v in imm_vars]).limit(1).collect()
        if not row:
            return
        write_group(imm_path, {"immutable": True}, fs=self._fs)
        for var in imm_vars:
            value = np.asarray(row[0][var.name], dtype=np.dtype(
                var.dtype if not var.dtype.startswith("datetime")
                else "datetime64[us]"))
            write_array(f"{imm_path}/{var.name}", np.atleast_1d(value),
                        fs=self._fs)

    def _attach_immutable(self, df: DataFrame,
                          wanted: set | None) -> DataFrame:
        """Attach ``_immutable`` variables as literals of their declared
        type — a map-side constant, where parquet broadcasts a one-row
        table; partition data wins on name conflict (quirk Q5)."""
        imm_path = f"{self.path}/_immutable"
        if not self.schema.immutable_variables \
                or not self._fs.exists_file(f"{imm_path}/zarr.json"):
            return df
        dims, cols = self.schema.dim_map, {}
        for var in self.schema.immutable_variables:
            if var.name in df.columns or (
                    wanted is not None and var.name not in wanted
                    and var.name.rsplit("/", 1)[-1] not in wanted):
                continue
            if not self._fs.exists_file(f"{imm_path}/{var.name}/zarr.json"):
                continue
            value = read_array(f"{imm_path}/{var.name}",
                               fs=self._fs).tolist()
            # stored at least 1-D: a scalar variable is its one element
            cols[var.name] = F.lit(value if var.dimensions else value[0]) \
                .cast(var.spark_type(dims, self.axis))
        return df.withColumns(cols) if cols else df

    # -- write ---------------------------------------------------------
    def _write_spec(self, columns) -> dict:
        """Picklable write-task spec shared with the zarr3 DataSource
        writer."""
        dim_map = self.schema.dim_map
        axis = self.axis
        chunk_rows = (dim_map[axis].chunks or (1 << 16)) if axis in dim_map \
            else (1 << 16)
        profile = engine_config.profile()
        var_schemas = [v for v in self.schema.partitioned_variables
                       if v.name in columns]
        return {
            "root": self.path,
            "axis": axis,
            "blob_conf": capture_blob_conf(),
            "keys": list(self.partitioning.keys),
            "partitioning_json": json.dumps(self.partitioning.to_json()),
            "chunk_rows": chunk_rows,
            "level": profile.level or 3,
            "shard_budget": profile.shard_target_bytes,
            "var_meta": [(v.name, v.dtype,
                          tuple(dim_map[d].size or 0 for d in v.dimensions
                                if d != axis))
                         for v in var_schemas],
            "fill_values": {v.name: v.fill_value for v in var_schemas
                            if v.fill_value is not None},
        }

    def _write(self, derived: DataFrame, *,
               txn: "tuple[str, int] | None" = None) -> list[str]:
        """Stage → intent → publish (staging.py): executors write each
        Zarr partition group under ``_staging/{id}``, then per-partition
        renames + the catalog PUT make the write visible atomically —
        the reference's failed-insert-rolls-back contract
        (``/root/reference/zcollection/store/icechunk_store.py:158-168``)."""
        keys = list(self.partitioning.keys)
        base_spec = self._write_spec(derived.columns)
        var_names = {name for name, _, _ in base_spec["var_meta"]}
        part_cols = [c for c in derived.columns
                     if c in var_names or c in keys]

        # statistics ride the write task: each task returns its
        # partition's catalog entry beside the relpath, so the job's own
        # collect delivers them (no second pass over the write lineage)
        var_map = self.schema.variable_map
        kinds = {col: bloom_kind_of(
                     dtype_to_spark(var_map[col].dtype).typeName())
                 for col in self.bloom_columns}
        stats_spec = {
            "stats_columns": self.stats_columns,
            "bloom_kinds": {c: k for c, k in kinds.items() if k},
            "bloom_bits": self.bloom_bits}

        def write_fn(staging: str) -> "tuple[None, dict | None]":
            spec = dict(base_spec, root=staging, **stats_spec)

            def write_partition(pdf: pd.DataFrame) -> pd.DataFrame:
                rel, entry = write_partition_group(spec, pdf)
                return pd.DataFrame({"relpath": [rel],
                                     "stats": [json.dumps(entry)]})

            try:
                # the groupBy's exchange on the keys is the write's one
                # shuffle; a merge's window already partitioned by the
                # keys, and the groupBy reuses it
                rows = (derived.select(*part_cols)
                        .groupBy(*keys)
                        .applyInPandas(write_partition,
                                       "relpath string, stats string")
                        .collect())
            except PythonException as exc:
                # a task's SchemaError (a null it cannot store) reaches
                # the driver wrapped: re-raise it as what it is
                marker = f"{SchemaError.__module__}.SchemaError: "
                if marker in str(exc):
                    raise SchemaError(str(exc).split(marker, 1)[1]
                                      .splitlines()[0]) from exc
                raise
            stats = {row.relpath: json.loads(row.stats)
                     for row in rows if row.stats != "{}"}
            return None, stats or None

        return staging_proto.staged_publish(
            self._fs, self.path, write_fn=write_fn,
            depth=self.partitioning.depth, mode="swap",
            catalog=self._catalog, txn=txn)

    # -- read ----------------------------------------------------------
    def _read_partitions(self, relpaths: list[str],
                         variables: Iterable[str] | None = None,
                         sources: "dict | None" = None) -> DataFrame:
        """Scan exactly ``relpaths``, one Spark task per partition — the
        reference's unit of read parallelism (``io/partition.py:235-265``).
        ``variables`` projects the scan: only those arrays are decoded
        (partition keys always kept).  A one-partition scan is one task,
        which Spark knows, so an ordered one-partition query sorts in
        that task with no exchange.  ``sources``
        (time travel) routes a relpath to its retained ``gen-N`` copy, so
        live and retained partitions share the one scan.  The schema and
        the endpoint conf are resolved here on the driver and ride the
        task closure: Python workers keep the environment they were born
        with."""
        wanted = (None if variables is None
                  else set(variables) | set(self.partitioning.keys))
        schema = datasource.scan_schema(self.schema, self.partitioning,
                                        wanted)
        if not relpaths:
            return self.spark.createDataFrame([], schema)
        sources = sources or {}
        tasks = [(sources.get(rel) or self.path, rel,
                  self.partitioning.decode(rel)) for rel in relpaths]
        # locals, not self: the closure is pickled into every task
        dataset_schema, partitioning = self.schema, self.partitioning
        blob_conf = capture_blob_conf()

        def decode(batches):
            for batch in batches:
                for i in batch.column(0).to_pylist():
                    root, rel, key = tasks[i]
                    yield from datasource.read_partition(
                        root, rel, key, schema, dataset_schema,
                        partitioning, blob_conf=blob_conf)

        return (self.spark.range(len(tasks), numPartitions=len(tasks))
                .mapInArrow(decode, schema))

    def to_df(self, *, variables: Iterable[str] | None = None) -> DataFrame:
        """Every live partition, projected to ``variables`` (plus the
        partition keys).  The plan is cached per (projection, endpoint
        conf, catalog generation): every commit bumps the generation, so
        a cached scan's partition list is always the current one."""
        key = (None if variables is None else tuple(sorted(variables)),
               json.dumps(capture_blob_conf(), sort_keys=True),
               self.generation())
        cached = self._df_cache.get(key)
        if cached is not None:
            return cached
        df = self._read_partitions(self.partitions(), variables)
        if len(self._df_cache) > 8:  # stale generations/projections
            self._df_cache.clear()
        self._df_cache[key] = df
        return df

    def read_row_ranges(self,
                        ranges: dict[str, list[tuple[int, int]]], *,
                        variables: Iterable[str] | None = None
                        ) -> DataFrame:
        """Index-driven partial read: decode ONLY the ``[start, stop)``
        row spans of the named partitions.

        ``ranges`` has the :meth:`Indexer.lookup` shape
        (``{partition_relpath: [(start, stop), ...]}``).  Each span is
        one executor task calling :func:`core.read_array_slice`, which
        touches only the chunks — and, inside a shard, only the inner
        chunks — intersecting the span: the object-store Range-GET
        pattern the ``sharding_indexed`` codec exists for.  A lookup
        hitting 50 rows of a 10⁹-row collection reads a few chunks, not
        a partition.
        """
        from pyspark.sql import types as T
        from .core import read_array_slice
        sel = None if variables is None else set(variables)
        var_schemas = [v for v in self.schema.partitioned_variables
                       if sel is None or v.name in sel]
        names = [v.name for v in var_schemas]
        struct = T.StructType(
            [f for f in self.schema.to_struct_type().fields
             if f.name in set(names)])
        rows = [(rel, int(start), int(stop))
                for rel, spans in ranges.items()
                for start, stop in spans]
        if not rows:
            return self.spark.createDataFrame([], struct)
        nd = {v.name for v in var_schemas if len(v.dimensions) > 1}
        root = self.path
        blob_conf = capture_blob_conf()

        def read_spans(batches: Iterable[pd.DataFrame]
                       ) -> Iterable[pd.DataFrame]:
            fs = task_fs(root, blob_conf)
            for pdf in batches:
                for rel, start, stop in pdf.itertuples(index=False):
                    data = {}
                    for name in names:
                        vals = read_array_slice(f"{root}/{rel}/{name}",
                                                int(start), int(stop),
                                                fs=fs)
                        if vals.dtype.kind == "M":
                            vals = vals.astype("datetime64[us]")
                        data[name] = list(vals) if name in nd else vals
                    yield pd.DataFrame(data)

        tasks = self.spark.createDataFrame(
            rows, "relpath string, start long, stop long")
        return (tasks.repartition(len(rows))
                .mapInPandas(read_spans, struct))
