"""Zarr-v3-backed collection: create / insert / query with the reference's
on-disk layout (one Zarr v3 group per partition — README.rst:21-54).

The write path is fully distributed: rows shuffle once on the partition
keys (fixing quirk Q3), then each ``applyInPandas`` task writes its
partition's Zarr group directly from the executor — chunked, zstd-coded
arrays (``io/partition.py:145-169`` semantics) with the partition key
stamped into group attributes as ``_zc_partition_key``
(``collection/base.py:508-516``).  The catalog PUT commits visibility.

Zone maps and blooms (``stats_columns`` / ``bloom_columns``) are built
by those same write tasks from the arrays they encode and ride the
write job's collect into the publish — no Spark job of their own, and
they describe what zarr stores: a null double is stored (and read
back) as NaN, so its partition keeps no bounds.  A null in an integer,
bool or string variable is stored as the variable's ``fill_value``;
without one the write raises :class:`SchemaError`.

Reads scan the partition list the driver resolved (catalog, key
filters, zone maps, time-travel snapshot): one Spark task per partition
decodes only the requested arrays (``_read_partitions``, the parquet
layout's helper of the same name).  Nothing is planned a second time,
and a query's DataFrame reads the same partitions on every action.  The
``zarr3`` Python DataSource (``datasource.py``) stays the raw
``spark.read/write.format("zarr3")`` surface and shares the decoder.

Scope: numeric/bool/datetime variables (Zarr v3 core types) plus
variable-length strings (v3 "string" data type via the vlen-utf8 codec).
Raw bytes stay on the parquet layout.  Views and the secondary index
work against either layout (positional ``_row_idx`` synthesized from
the on-disk array order via ``_load``).
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path
from typing import Callable, Iterable

import numpy as np
import pandas as pd

from pyspark.errors import PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config as engine_config
from ..collection import staging as staging_proto
from ..collection.catalog import Catalog
from ..collection.stats import bloom_kind_of
from ..collection.merge import MergeCallable, resolve_merge
from ..collection.merge import replace as merge_replace
from ..errors import (CollectionExistsError, CollectionNotFoundError,
                      SchemaError)
from ..fs import fs_for, strip_scheme
from ..partitioning import Partitioning, compile_filter
from ..partitioning import from_json as partitioning_from_json
from ..schema import FORMAT_VERSION, DatasetSchema, dtype_to_spark
from . import datasource
from .core import read_array, write_array, write_group
from .sharding import shard_decision

CONFIG_NAME = "_zcollection.json"


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
    import shutil as _shutil
    from ..collection.stats import bloom_entry, zone_entry
    from ..partitioning import from_json as pj
    part = pj(json.loads(spec["partitioning_json"]))
    axis = spec["axis"]
    key = {k: int(pdf[k].iloc[0]) for k in spec["keys"]}
    rel = part.encode(key)
    root = str(spec["root"])
    conf = spec.get("blob_conf")
    group_path = f"{root}/{rel}"
    pdf = (pdf.sort_values(axis).reset_index(drop=True)
           if axis in pdf.columns else pdf.reset_index(drop=True))
    # partition rewrite is wholesale: clear stale chunks from any
    # previous (larger) incarnation before writing.  Staging dirs are
    # always fresh, so this only fires on direct (non-staged) writes —
    # local paths only; object-store staging never hits it.
    if not root.startswith(("s3://", "s3a://", "s3n://")) \
            and Path(group_path).exists():
        _shutil.rmtree(group_path, ignore_errors=True)
    write_group(group_path, {"_zc_partition_key": json.dumps(key)},
                conf=conf)
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
                write_group(f"{group_path}/{rel_group}", {}, conf=conf)
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
                    conf=conf)
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
    path = strip_scheme(path).rstrip("/")
    fs = fs_for(path, spark)
    config_path = f"{path}/{CONFIG_NAME}"
    if fs.exists(config_path):
        if not overwrite:
            raise CollectionExistsError(f"collection exists at {path!r}")
        fs.delete(path)
    bound = schema.with_partition_axis(axis)
    for var in bound.variables:
        base = var.dtype
        if base in ("bytes", "vlen-bytes"):
            raise SchemaError(
                f"variable {var.name!r}: bytes dtypes are not "
                f"supported by the zarr3 layout (use the parquet layout)")
    stats_columns = sorted(stats_columns) if stats_columns else None
    if stats_columns:
        from ..collection.collection import _is_temporal_dtype
        var_map = bound.variable_map
        for col in stats_columns:
            if col not in var_map or var_map[col].immutable:
                raise SchemaError(
                    f"stats column {col!r} is not a partitioned "
                    f"variable of the schema")
            if _is_temporal_dtype(var_map[col].dtype):
                raise SchemaError(
                    f"stats column {col!r} is temporal "
                    f"({var_map[col].dtype}): use partitioning filters "
                    f"for time ranges, not where= zone maps")
    bloom_columns = sorted(bloom_columns) if bloom_columns else None
    if bloom_columns:
        if bloom_bits % 64 or bloom_bits <= 0:
            raise SchemaError("bloom_bits must be a positive multiple "
                              "of 64")
        var_map = bound.variable_map
        for col in bloom_columns:
            if col not in var_map or var_map[col].immutable:
                raise SchemaError(
                    f"bloom column {col!r} is not a partitioned "
                    f"variable of the schema")
            dt = var_map[col].dtype
            if not (dt.startswith(("int", "uint", "<U"))
                    or dt in ("str", "vlen-utf8")):
                raise SchemaError(
                    f"bloom column {col!r} must be integer or string "
                    f"typed (got {dt})")
    doc = {"format_version": FORMAT_VERSION, "schema": bound.to_json(),
           "partitioning": partitioning.to_json(),
           "data_format": "zarr3", "catalog_enabled": True}
    if stats_columns:
        doc["stats_columns"] = stats_columns
    if bloom_columns:
        doc["bloom_columns"] = bloom_columns
        doc["bloom_bits"] = int(bloom_bits)
    fs.write_text(config_path, json.dumps(doc, indent=1, sort_keys=True))
    write_group(path, {"zcollection": True})
    coll = ZarrCollection(spark, path, bound, partitioning,
                          stats_columns=stats_columns,
                          bloom_columns=bloom_columns,
                          bloom_bits=bloom_bits)
    coll._catalog.write([])
    return coll


def open_zarr_collection(spark: SparkSession, path: str) -> "ZarrCollection":
    path = strip_scheme(path).rstrip("/")
    fs = fs_for(path, spark)
    config_path = f"{path}/{CONFIG_NAME}"
    if not fs.exists(config_path):
        raise CollectionNotFoundError(f"no collection at {path!r}")
    doc = json.loads(fs.read_text(config_path))
    schema = DatasetSchema.from_json(doc["schema"])
    stats_columns = doc.get("stats_columns")
    if stats_columns:
        from ..collection.collection import _is_temporal_dtype
        var_map = schema.variable_map
        bad = [c for c in stats_columns if c in var_map
               and _is_temporal_dtype(var_map[c].dtype)]
        if bad:
            import warnings
            warnings.warn(f"ignoring temporal stats columns {bad} "
                          f"(unsafe string-vs-timestamp ordering)")
            stats_columns = [c for c in stats_columns if c not in bad]
    return ZarrCollection(spark, path, schema,
                          partitioning_from_json(doc["partitioning"]),
                          stats_columns=stats_columns,
                          bloom_columns=doc.get("bloom_columns"),
                          bloom_bits=int(doc.get("bloom_bits", 1024)))


class ZarrCollection:
    def __init__(self, spark: SparkSession, path: str,
                 schema: DatasetSchema, partitioning: Partitioning,
                 stats_columns=None, bloom_columns=None,
                 bloom_bits: int = 1024):
        self.spark = spark
        self.path = path.rstrip("/")
        self.schema = schema
        self.partitioning = partitioning
        self.bloom_columns = list(bloom_columns) if bloom_columns else []
        self.bloom_bits = int(bloom_bits)
        self.axis = schema.axis
        self.catalog_enabled = True
        self.stats_columns = list(stats_columns) if stats_columns else []
        # metadata fs by scheme; zarr DATA I/O (chunk encode/decode in
        # executors) goes through zarr3.blobs — local paths and s3://
        # both work end-to-end (other schemes need a mounted path)
        self._fs = fs_for(self.path, spark)
        self._catalog = Catalog(self._fs, self.path,
                                walk_depth=partitioning.depth)
        # full-scan plan cache, keyed on the catalog generation (to_df)
        self._df_cache: dict = {}
        # sidecar bloom payload cache, keyed by catalog ref — initialized
        # here (NOT lazily in query()) so no per-query state lives outside
        # the constructor; the r10 pushed-filter staleness bug came from
        # exactly that pattern
        self._bloom_payloads: dict = {}
        datasource.register(spark)

    # ------------------------------------------------------------------
    def _write_immutable(self, df: DataFrame) -> None:
        """Lift non-axis variables into a write-once ``_immutable`` Zarr
        group (``io/immutable.py:48-98`` parity)."""
        imm_vars = [v for v in self.schema.immutable_variables
                    if v.name in df.columns]
        if not imm_vars:
            return
        from .blobs import blobs_for
        imm_path = f"{self.path}/_immutable"
        if blobs_for(imm_path).try_read_bytes(
                f"{imm_path}/zarr.json") is not None:
            return
        row = df.select(*[v.name for v in imm_vars]).limit(1).collect()
        if not row:
            return
        write_group(imm_path, {"immutable": True})
        for var in imm_vars:
            value = np.asarray(row[0][var.name], dtype=np.dtype(
                var.dtype if not var.dtype.startswith("datetime")
                else "datetime64[us]"))
            write_array(f"{imm_path}/{var.name}", np.atleast_1d(value))

    def _immutable_row(self) -> dict | None:
        from .blobs import blobs_for
        imm_path = f"{self.path}/_immutable"
        blobs = blobs_for(imm_path)
        if blobs.try_read_bytes(f"{imm_path}/zarr.json") is None:
            return None
        out = {}
        for var in self.schema.immutable_variables:
            if blobs.try_read_bytes(
                    f"{imm_path}/{var.name}/zarr.json") is not None:
                out[var.name] = read_array(
                    f"{imm_path}/{var.name}").tolist()
        return out or None

    def _attach_immutable(self, df: DataFrame,
                          wanted: set | None) -> DataFrame:
        """Literal-attach ``_immutable`` variables (one row of values —
        a map-side literal, matching the parquet layer's broadcast
        semantics; partition data wins on name conflict, quirk Q5)."""
        row = self._immutable_row()
        if not row:
            return df
        adds = {}
        for name, value in row.items():
            if name in df.columns:
                continue
            if wanted is not None and name not in wanted \
                    and name.rsplit("/", 1)[-1] not in wanted:
                continue
            adds[name] = (F.array(*[F.lit(v) for v in value])
                          if isinstance(value, list) else F.lit(value))
        return df.withColumns(adds) if adds else df

    def txn_version(self, app_id: str) -> int:
        """Highest committed streaming-sink txn version for ``app_id``
        (-1 if none) — same ledger semantics as the parquet layout."""
        return self._catalog.read_txn(app_id)

    def generation(self) -> int:
        """Monotonic catalog commit counter (parquet-layout parity)."""
        return self._catalog.generation()

    def exclusive_writer(self, *, ttl: float = 60.0,
                         owner: str | None = None):
        """Advisory single-producer lease (parquet-layout parity —
        collection/lease.py; the lease lives next to the catalog, so
        it is layout-agnostic by construction)."""
        from ..collection.lease import WriterLease
        return WriterLease(self._fs, self.path, ttl=ttl, owner=owner)

    def changes(self, since_generation: int,
                to_generation: int | None = None) -> dict:
        """Partition-level diff since a previous commit (optionally
        bounded at a retained generation) — see ``Collection.changes``
        (identical catalog machinery)."""
        from ..collection.collection import Collection
        return Collection.changes(self, since_generation, to_generation)

    def history(self, *, limit: int = 10) -> list[dict]:
        """Commit ledger, newest first — see ``Collection.history``
        (identical catalog machinery)."""
        from ..collection.collection import Collection
        return Collection.history(self, limit=limit)

    def pin_generation(self, generation: int) -> list[int]:
        """Pin a generation readable-forever (copy-on-republish
        retention) — see ``Collection.pin_generation`` (identical
        catalog machinery; the retained copies are zarr partition
        groups here)."""
        from ..collection.catalog import resolve_snapshot_readable
        resolve_snapshot_readable(self._catalog, generation)
        return self._catalog.pin(generation)

    def unpin_generation(self, generation: int) -> list[int]:
        """See ``Collection.unpin_generation``."""
        pins = self._catalog.unpin(generation)
        self._catalog.sweep_retained()
        return pins

    def pinned_generations(self) -> list[int]:
        """See ``Collection.pinned_generations``."""
        return self._catalog.pins()

    def stale_partitions(self, generation: int) -> list[str]:
        """See ``Collection.stale_partitions``."""
        from ..collection.catalog import stale_partitions
        return stale_partitions(self._catalog, generation)

    def insert(self, df: DataFrame,
               merge: str | MergeCallable | None = None,
               txn: "tuple[str, int] | None" = None) -> list[str]:
        """Shuffle by partition keys, write one Zarr group per partition
        from the executors, commit the catalog.

        ``merge`` mirrors the parquet collection's strategies; colliding
        partitions are read back (one task each), merged with one
        DataFrame program, and rewritten wholesale (Zarr groups are
        replaced atomically per partition — stale chunks are removed)."""
        self._write_immutable(df)
        part_names = [v.name for v in self.schema.partitioned_variables
                      if v.name in df.columns]
        df = df.select(*part_names)
        keys = list(self.partitioning.keys)
        derived = self.partitioning.derive(df)
        incoming_rel = [
            self.partitioning.encode(key)
            for key in self.partitioning.enumerate_keys(derived)]
        if not incoming_rel:
            return []
        existing_rel = set(self.partitions())
        colliding = sorted(set(incoming_rel) & existing_rel)
        strategy = resolve_merge(merge)
        if colliding and strategy is not merge_replace:
            existing = self._read_partitions(colliding)
            derived = strategy(existing, derived, axis=self.axis,
                               keys=tuple(keys))
        written = self._write_partitions(derived, txn=txn)
        return sorted(set(written) | set(incoming_rel))

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
        from .blobs import capture_blob_conf
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

    def _write_partitions(self, derived: DataFrame,
                          txn: "tuple[str, int] | None" = None
                          ) -> list[str]:
        """Stage → intent → publish (staging.py): executors write each
        Zarr partition group under ``_staging/{id}``, then per-partition
        renames + the catalog PUT make the insert visible atomically —
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
        stats: dict = {}

        def write_fn(staging: str) -> None:
            spec = dict(base_spec, root=staging, **stats_spec)

            def write_partition(pdf: pd.DataFrame) -> pd.DataFrame:
                rel, entry = write_partition_group(spec, pdf)
                return pd.DataFrame({"relpath": [rel],
                                     "stats": [json.dumps(entry)]})

            try:
                rows = (derived.select(*part_cols)
                        .repartition(*[F.col(k) for k in keys])
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
            stats.update((row.relpath, json.loads(row.stats))
                         for row in rows if row.stats != "{}")

        return staging_proto.staged_publish(
            self._fs, self.path, write_fn=write_fn,
            depth=self.partitioning.depth, mode="swap",
            catalog=self._catalog, txn=txn,
            stats_fn=lambda _rels: stats or None)

    # ------------------------------------------------------------------
    def _read_partitions(self, relpaths: list[str],
                         variables: Iterable[str] | None = None,
                         sources: "dict | None" = None) -> DataFrame:
        """Scan exactly ``relpaths``, one Spark task per partition — the
        reference's unit of read parallelism (``io/partition.py:235-265``)
        and the parquet layout's helper of the same name.  ``variables``
        projects the scan (partition keys always kept); ``sources``
        (time travel) routes a relpath to its retained ``gen-N`` copy, so
        live and retained partitions share the one scan.  The schema and
        the endpoint conf are resolved here on the driver and ride the
        task closure: Python workers keep the environment they were born
        with."""
        from .blobs import capture_blob_conf
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
        from .blobs import capture_blob_conf
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

    def add_variable(self, name: str, dtype: str, *,
                     dimensions=None, fill_value=None,
                     attrs=None) -> None:
        """Schema evolution for the zarr layout: declare a new variable;
        old partitions (no array node) read as ``fill_value`` — the
        literal zarr missing-chunk rule, applied at array granularity."""
        from ..schema import VariableSchema as _VS
        if name in self.schema.variable_map:
            raise SchemaError(f"variable {name!r} already exists")
        if fill_value is None:
            raise SchemaError(
                "zarr schema evolution requires a fill_value (old "
                "partitions have no array node to read)")
        dimensions = tuple(dimensions) if dimensions else (self.axis,)
        new_var = _VS(name=name, dtype=dtype, dimensions=dimensions,
                      fill_value=fill_value, attrs=dict(attrs or {}))
        rebuilt = DatasetSchema(
            dimensions=self.schema.dimensions,
            variables=(*self.schema.variables, new_var),
            attrs=self.schema.attrs,
            group_attrs=self.schema.group_attrs,
        ).with_partition_axis(self.axis)
        doc = {"format_version": FORMAT_VERSION, "schema": rebuilt.to_json(),
               "partitioning": self.partitioning.to_json(),
               "data_format": "zarr3", "catalog_enabled": True}
        self._fs.write_text(f"{self.path}/{CONFIG_NAME}",
                            json.dumps(doc, indent=1, sort_keys=True))
        self.schema = rebuilt

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
        from .blobs import capture_blob_conf
        blob_conf = capture_blob_conf()

        def read_spans(batches: Iterable[pd.DataFrame]
                       ) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                for rel, start, stop in pdf.itertuples(index=False):
                    data = {}
                    for name in names:
                        vals = read_array_slice(f"{root}/{rel}/{name}",
                                                int(start), int(stop),
                                                conf=blob_conf)
                        if vals.dtype.kind == "M":
                            vals = vals.astype("datetime64[us]")
                        data[name] = list(vals) if name in nd else vals
                    yield pd.DataFrame(data)

        tasks = self.spark.createDataFrame(
            rows, "relpath string, start long, stop long")
        return (tasks.repartition(len(rows))
                .mapInPandas(read_spans, struct))

    def _load(self, *, filters: str | None = None,
              keep_internal: bool = False) -> DataFrame | None:
        """Indexer-compatible load: pruned scan plus (when asked) a
        synthesized ``_row_idx`` — the array position within each
        partition.  Zarr rows ARE positional (writes sort by axis), so a
        window over (keys, axis) reproduces the on-disk order; this is
        what lets ``indexing.Indexer`` build/lookup/query against zarr
        collections unchanged, and its ``lookup`` output feed
        :meth:`read_row_ranges` for chunk-level partial reads.
        """
        from pyspark.sql import Window
        from ..collection.collection import ROW_IDX
        relpaths = self.partitions(filters=filters)
        if not relpaths:
            return None
        df = self._read_partitions(relpaths)
        if keep_internal:
            win = (Window.partitionBy(*self.partitioning.keys)
                   .orderBy(self.axis))
            df = df.withColumn(ROW_IDX, F.row_number().over(win) - F.lit(1))
        return df

    def query(self, *, filters: str | None = None,
              variables: Iterable[str] | None = None,
              where: str | None = None,
              ordered: bool = True,
              at_generation: int | None = None,
              nested: bool = False) -> DataFrame | None:
        """Pruned + projected read: ``filters`` (partition-key dialect)
        selects partitions on the driver, and the scan reads exactly
        that list, one task per partition (``_read_partitions``) — every
        action on the returned DataFrame reads the same partition set.

        ``where`` (data-column dialect, float literals allowed) adds
        zone-map partition skipping when the collection records
        ``stats_columns`` — only surviving partitions are scanned, and
        the exact row filter is applied on top (parquet-layout parity,
        collection/collection.py).

        ``at_generation`` reads AS OF a committed generation (parquet-
        layout parity: partition list + zone statistics from the gen-N
        snapshot, staleness-gated — see
        ``collection.catalog.resolve_snapshot_readable``); republished
        partitions are read from their retained copies in the same
        scan."""
        sources = None
        if at_generation is not None:
            # fetch + staleness-verify the snapshot ONCE and thread it
            # to both the partition list and the zone-stats map (a
            # where-clause time-travel read used to verify twice —
            # two extra catalog GETs per query, r10 advice).
            # ``sources`` routes republished partitions to their
            # pinned-generation retained copies (copy-on-republish);
            # staleness is fatal only for MATCHED partitions
            # (catalog.resolve_matched — the partial-read contract).
            from ..collection.catalog import resolve_matched
            snap, sources, relpaths = resolve_matched(
                self._catalog, at_generation,
                lambda rels: self._match_relpaths(rels, filters))
        else:
            snap = None
            relpaths = self.partitions(filters=filters)
        if not relpaths:
            return None  # quirk Q6 parity
        if where is not None and (self.stats_columns
                                  or self.bloom_columns):
            if snap is not None:
                stats_map = dict(snap.get("stats", {}))
            else:
                stats_map = self._catalog.read_stats()
            if stats_map:
                from ..partitioning.zonemap import compile_zone_filter
                may_match = compile_zone_filter(where)
                allowed = set(self.stats_columns) \
                    | {f"{c}#bloom" for c in self.bloom_columns}
                masked = {rel: {c: v for c, v in entry.items()
                                if c in allowed}
                          for rel, entry in stats_map.items()}
                kept = [rel for rel in relpaths
                        if may_match(masked.get(rel))]
                # sidecar bloom payloads: fetched only for interval
                # survivors, then probed (parquet-layout parity)
                from ..collection.stats import resolve_sidecar_blooms
                resolved = resolve_sidecar_blooms(
                    {rel: masked.get(rel) for rel in kept},
                    self._catalog.load_bloom, self._bloom_payloads)
                if resolved is not None:
                    kept = [rel for rel in kept
                            if may_match(resolved[rel])]
                if not kept:
                    return None
                relpaths = kept
        read_vars = variables
        if variables is not None and where is not None:
            # the where predicate's columns must survive the scan
            # projection; they are dropped again after the filter
            read_vars = sorted(
                set(variables)
                | compile_filter(where, allow_float=True).names)
        df = self._read_partitions(relpaths, read_vars, sources)
        if where is not None:
            df = df.where(compile_filter(where,
                                         allow_float=True).to_column())
        if ordered and self.axis in df.columns:
            if len(relpaths) == 1:
                # one surviving partition = one reader task: an
                # in-partition sort IS the global order — skip the
                # orderBy exchange (range partitioning + shuffle)
                df = df.sortWithinPartitions(self.axis)
            else:
                df = df.orderBy(self.axis)
        if variables is not None:
            keep = [c for c in df.columns if c in set(variables)]
            df = df.select(*keep)
        else:
            keep = [v.name for v in self.schema.partitioned_variables
                    if v.name in df.columns]
            df = df.select(*keep)
        # attach immutables (broadcast one-row table; partition wins on
        # conflict — quirk Q5 parity)
        imm = self._immutable_row()
        if imm is not None:
            wanted = set(variables) if variables is not None else None
            cols = {}
            dims = self.schema.dim_map
            for var in self.schema.immutable_variables:
                if var.name not in imm or var.name in df.columns:
                    continue
                if wanted is not None and var.name not in wanted \
                        and var.name.rsplit("/", 1)[-1] not in wanted:
                    continue
                value = imm[var.name]
                if len(var.dimensions) == 0 or (
                        len(value) == 1 and not isinstance(value[0], list)):
                    lit = F.lit(value[0])
                else:
                    lit = F.lit(value)
                cols[var.name] = lit.cast(
                    var.spark_type(dims, self.axis))
            if cols:
                df = df.withColumns(cols)
        if nested:
            # struct view of the group tree (same contract as the
            # parquet layout's Collection.query(nested=True))
            from ..schema import nest_struct_columns
            df = nest_struct_columns(df)
        return df

    def drop_partitions(self, *, filters: str | None = None) -> list[str]:
        """Delete matching partition groups + catalog update
        (``collection/base.py:599-634`` parity)."""
        doomed = self.partitions(filters=filters)
        # pinned generations keep their content past the drop
        self._catalog.retain_for_pins(doomed)
        for rel in doomed:
            self._fs.delete(f"{self.path}/{rel}")
        self._catalog.remove(doomed)
        return doomed

    def update(self, fn: Callable, *,
               filters: str | None = None) -> list[str]:
        """Read → ``fn(pdf) -> pdf`` → rewrite matching partitions
        wholesale (``collection/base.py:698-794`` parity; strict about
        returned columns like the parquet collection)."""
        relpaths = self.partitions(filters=filters)
        if not relpaths:
            return []
        df = self._read_partitions(relpaths)
        keys = list(self.partitioning.keys)
        var_names = [v.name for v in self.schema.partitioned_variables]
        sample = fn(df.limit(0).toPandas())
        missing = [n for n in var_names if n not in sample.columns]
        if missing:
            raise SchemaError(
                f"update fn dropped partitioned variables {missing}")
        updated = (df.groupBy(*keys).applyInPandas(
            lambda pdf: fn(pdf)[var_names],
            df.select(*var_names).schema))
        derived = self.partitioning.derive(updated)
        self._write_partitions(derived)
        return relpaths

    def map(self, fn: Callable, schema, *,
            filters: str | None = None,
            variables: Iterable[str] | None = None) -> DataFrame | None:
        """Per-partition pandas fn over the matching partitions
        (``collection/base.py:638-696`` parity)."""
        relpaths = self.partitions(filters=filters)
        if not relpaths:
            return None
        df = self._read_partitions(relpaths, variables)
        return df.groupBy(*self.partitioning.keys).applyInPandas(fn, schema)

    def repair_catalog(self) -> list[str]:
        """Recover interrupted inserts (roll forward / quarantine —
        staging.py), then re-walk the store and rewrite the catalog
        (``base.py:352-375``; ≈ MSCK REPAIR TABLE)."""
        staging_proto.recover(self._fs, self.path, self._catalog)
        relpaths = self._fs.list_partition_dirs(
            self.path, self.partitioning.depth)
        self._catalog.write(relpaths)
        return sorted(relpaths)

    def partitions(self, *, filters: str | None = None,
                   at_generation: int | None = None) -> list[str]:
        if at_generation is not None:
            # staleness fatal only for MATCHED partitions
            # (catalog.resolve_matched — parquet-layout parity)
            from ..collection.catalog import resolve_matched
            return resolve_matched(
                self._catalog, at_generation,
                lambda rels: self._match_relpaths(rels, filters))[2]
        relpaths = self._catalog.read()
        if relpaths is None:
            relpaths = self._fs.list_partition_dirs(
                self.path, self.partitioning.depth)
        return self._match_relpaths(relpaths, filters)

    def _match_relpaths(self, relpaths: "list[str]",
                        filters: str | None) -> list[str]:
        """Key-predicate filter + numeric key sort (parquet-layout
        parity — lets query() reuse an already-verified snapshot's
        partition list without a second catalog round-trip)."""
        predicate = compile_filter(filters)
        matched = [(rel, self.partitioning.decode(rel)) for rel in relpaths]
        matched = [(rel, key) for rel, key in matched
                   if predicate.evaluate(key)]
        matched.sort(key=lambda item: tuple(item[1][k]
                                            for k in self.partitioning.keys))
        return [rel for rel, _ in matched]
