"""Spark Python DataSource for Zarr v3 collections (format name "zarr3").

The raw ``spark.read.format("zarr3").option("path", root).load()`` and
``df.write.format("zarr3")`` surface.  ``ZarrCollection`` reads do not
go through it: they scan the partition list the driver already resolved
(``ZarrCollection._read_partitions``) with the same decoder,
:func:`read_partition`.

Read path: one ``InputPartition`` per collection partition (the reference's
unit of parallelism, ``io/partition.py:235-265``), listed from the catalog
(store walk fallback) when the query is planned; partition-key predicates
are PUSHED DOWN (``pushFilters``, enabled by the session's
``spark.sql.python.filterPushdown.enabled``) and evaluated driver-side
against the decoded partition keys, so non-matching partitions are never
opened or read.  Column projection arrives via the ``columns`` option
(the Python DS API has no prune hook yet); only requested Zarr arrays are
fetched, per-variable, like the reference's ``wanted_paths``.  Endpoint
config for object stores arrives via the ``blob_conf`` option.

Executors return pyarrow RecordBatches built zero-copy from the chunk
buffers, so the Python-side cost is decompress + Arrow wrap, not
row-by-row conversion.
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader, EqualTo, Filter,
                                    GreaterThan, GreaterThanOrEqual, In,
                                    InputPartition, LessThan,
                                    LessThanOrEqual, WriterCommitMessage)
from pyspark.sql import types as T

from ..fs import task_fs
from ..partitioning import from_json as partitioning_from_json
from ..schema import DatasetSchema

CONFIG_NAME = "_zcollection.json"


def _load_config(root: str,
                 conf: dict | None = None) -> tuple[DatasetSchema, object]:
    doc = json.loads(task_fs(root, conf).read_text(f"{root}/{CONFIG_NAME}"))
    return (DatasetSchema.from_json(doc["schema"]),
            partitioning_from_json(doc["partitioning"]))


def _np_to_arrow(values: np.ndarray) -> pa.Array:
    if values.ndim == 1:
        return pa.array(values)
    # nD variable → Arrow ListArray built from flat buffer + offsets
    flat = pa.array(values.reshape(-1))
    n, width = values.shape[0], int(np.prod(values.shape[1:]))
    offsets = pa.array(np.arange(0, (n + 1) * width, width,
                                 dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def scan_schema(dataset_schema: DatasetSchema, partitioning,
                wanted: "set[str] | None" = None) -> T.StructType:
    """Spark schema of a partition scan projected to ``wanted`` (all
    columns when None).  Immutable (non-axis) variables live in
    ``_immutable/``, not in the partition groups — the collection layer
    attaches them; derived partition-key columns (Date year/month/…)
    appear as int64 columns, matching the parquet layout's partition
    columns."""
    fields = [f for f in dataset_schema.to_struct_type().fields
              if not dataset_schema.variable_map[f.name].immutable
              and (wanted is None or f.name in wanted)]
    for kname in partitioning.keys:
        if kname not in dataset_schema.variable_map:
            if wanted is None or kname in wanted:
                fields.append(T.StructField(kname, T.LongType()))
    return T.StructType(fields)


def read_partition(root: str, rel: str, key: dict,
                   spark_schema: T.StructType,
                   dataset_schema: DatasetSchema, partitioning,
                   columns: "list[str] | None" = None,
                   blob_conf: dict | None = None
                   ) -> Iterator[pa.RecordBatch]:
    """Decode one partition group ``{root}/{rel}`` (executor side) into
    Arrow batches of ``spark_schema``, fetching only the requested
    arrays.  ``key`` is the partition's decoded key; ``blob_conf`` is
    the driver-captured endpoint config (Python workers keep the
    environment they were born with, so it must ride the task).  Backs
    both the collection scans and the raw ``zarr3`` format reader."""
    from .core import read_array
    fs = task_fs(root, blob_conf)
    group_path = f"{root}/{rel}"
    wanted = columns
    arrays: dict[str, pa.Array] = {}
    length = None
    var_map = dataset_schema.variable_map
    for field in spark_schema.fields:
        name = field.name
        if name in partitioning.keys and name not in var_map:
            continue  # derived key columns appended below
        if name in var_map and var_map[name].immutable:
            continue  # lives in _immutable/, attached by the caller
        if wanted is not None and name not in wanted:
            continue
        array_path = f"{group_path}/{name}"
        try:
            values = read_array(array_path, fs=fs)
        except FileNotFoundError:
            # a variable the partition does not store (added by schema
            # evolution, or dropped by update(allow_variable_drop=True)):
            # the declared fill (zarr missing-chunk semantics), else
            # nulls — what the parquet layout reads for a missing column
            if length is None:
                length = len(read_array(
                    f"{group_path}/{dataset_schema.axis}", fs=fs))
            var = var_map.get(name)
            if var is None:
                raise
            if var.fill_value is None:
                from pyspark.sql.pandas.types import to_arrow_type
                arrays[name] = pa.nulls(length,
                                        to_arrow_type(field.dataType))
                continue
            dtype = np.dtype("datetime64[us]"
                             if var.dtype.startswith("datetime")
                             else var.dtype)
            values = np.full(length, var.fill_value, dtype=dtype)
        if values.dtype.kind == "M":
            values = values.astype("datetime64[us]")
        arrays[name] = _np_to_arrow(values)
        length = len(values)
    if length is None:  # keys-only projection: length from axis array
        length = len(read_array(f"{group_path}/{dataset_schema.axis}",
                                fs=fs))
    for kname in partitioning.keys:
        if kname in var_map and kname not in arrays \
                and (wanted is None or kname in wanted):
            arrays[kname] = _np_to_arrow(
                read_array(f"{group_path}/{kname}", fs=fs))
        elif kname not in var_map:
            if wanted is None or kname in wanted:
                arrays[kname] = pa.array(
                    np.full(length, key[kname], dtype=np.int64))
    names = [f.name for f in spark_schema.fields if f.name in arrays]
    yield pa.RecordBatch.from_arrays([arrays[n] for n in names],
                                     names=names)


class ZarrReader(DataSourceReader):
    def __init__(self, root: str, schema: T.StructType,
                 columns: str | None, blob_conf: dict | None = None):
        self.root = root
        self.spark_schema = schema
        # arrives via the "blob_conf" option: DataSource instances run in
        # Python WORKERS, which keep the env they were born with —
        # endpoint config must ride the plan
        self.blob_conf = blob_conf
        self.dataset_schema, self.partitioning = _load_config(root,
                                                              blob_conf)
        self.columns = ([c.strip() for c in columns.split(",")]
                        if columns else None)

    # -- partition-key filter pushdown ---------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        keys = set(self.partitioning.keys)
        accepted: list = []
        rejected: list[Filter] = []
        for flt in filters:
            col = flt.attribute[0] if hasattr(flt, "attribute") else None
            if col in keys and isinstance(
                    flt, (EqualTo, In, GreaterThan, GreaterThanOrEqual,
                          LessThan, LessThanOrEqual)):
                accepted.append(flt)
            else:
                rejected.append(flt)
        self._accepted = accepted
        return rejected

    def _match(self, key: dict) -> bool:
        for flt in getattr(self, "_accepted", []):
            value = key[flt.attribute[0]]
            if isinstance(flt, EqualTo) and not value == flt.value:
                return False
            if isinstance(flt, In) and value not in flt.value:
                return False
            if isinstance(flt, GreaterThan) and not value > flt.value:
                return False
            if isinstance(flt, GreaterThanOrEqual) and not value >= flt.value:
                return False
            if isinstance(flt, LessThan) and not value < flt.value:
                return False
            if isinstance(flt, LessThanOrEqual) and not value <= flt.value:
                return False
        return True

    # -- partition enumeration (catalog first, walk fallback) ----------
    def partitions(self) -> Sequence[InputPartition]:
        from ..collection.catalog import Catalog
        # this also runs in a Python worker, which keeps the env it was
        # BORN with: the shipped blob_conf routes it like the driver
        fs = task_fs(self.root, self.blob_conf)
        relpaths = Catalog(fs, self.root).read()
        if relpaths is None:
            relpaths = fs.list_partition_dirs(self.root,
                                              self.partitioning.depth)
        out = []
        for rel in sorted(relpaths):
            key = self.partitioning.decode(rel)
            if self._match(key):
                out.append(InputPartition((rel, key)))
        return out

    # -- per-partition read (executor side) ----------------------------
    def read(self, partition: InputPartition) -> Iterator[pa.RecordBatch]:
        rel, key = partition.value
        return read_partition(self.root, rel, key, self.spark_schema,
                              self.dataset_schema, self.partitioning,
                              self.columns, self.blob_conf)


class ZarrCommit(WriterCommitMessage):
    def __init__(self, relpaths):
        self.relpaths = tuple(relpaths)


class ZarrWriter(DataSourceArrowWriter):
    """``df.write.format("zarr3")`` — raw DataSource write path.

    Each task groups its Arrow batches by the derived partition key and
    writes one Zarr group per key (``write_partition_group``, the same
    routine the collection insert uses).  The caller must keep keys
    task-disjoint (``df.repartition(*keys)``) — fragmented keys across
    tasks would race exactly like reference quirk Q3; the collection
    layer's insert does this automatically and is the recommended entry.
    ``commit`` publishes the written relpaths into the catalog (atomic
    swap), so a failed job leaves nothing newly visible.
    """

    def __init__(self, root: str):
        # driver side: capture a picklable write spec from the config
        from .collection import open_zarr_collection
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        coll = open_zarr_collection(spark, root)
        names = [v.name for v in coll.schema.partitioned_variables]
        self.spec = coll._write_spec(names)

    def write(self, iterator):
        import pandas as pd
        from .collection import write_partition_group
        from ..partitioning import from_json as pj
        batches = list(iterator)
        if not batches:
            return ZarrCommit(())
        pdf = pa.Table.from_batches(batches).to_pandas()
        if len(pdf) == 0:
            return ZarrCommit(())
        part = pj(json.loads(self.spec["partitioning_json"]))
        pdf = part.derive_pandas(pdf)
        rels = [write_partition_group(self.spec, group)[0]
                for _, group in pdf.groupby(self.spec["keys"], sort=True)]
        return ZarrCommit(rels)

    def commit(self, messages):
        from pyspark.sql import SparkSession
        from ..collection.catalog import Catalog
        from ..fs import fs_for
        rels = sorted({r for m in messages if m is not None
                       for r in m.relpaths})
        from ..partitioning import from_json as pj
        depth = pj(json.loads(self.spec["partitioning_json"])).depth
        fs = fs_for(self.spec["root"], SparkSession.getActiveSession())
        Catalog(fs, self.spec["root"], walk_depth=depth).add(rels)

    def abort(self, messages):
        # written-but-uncommitted groups stay invisible to catalog-backed
        # readers; nothing to undo eagerly
        pass


class ZarrDataSource(DataSource):
    """``spark.read.format("zarr3").option("path", root).load()``."""

    @classmethod
    def name(cls) -> str:
        return "zarr3"

    def _blob_conf(self) -> dict | None:
        raw = self.options.get("blob_conf")
        return json.loads(raw) if raw else None

    def schema(self) -> T.StructType:
        dataset_schema, partitioning = _load_config(self.options["path"],
                                                    self._blob_conf())
        columns = self.options.get("columns")
        wanted = ({c.strip() for c in columns.split(",")}
                  if columns else None)
        return scan_schema(dataset_schema, partitioning, wanted)

    def reader(self, schema: T.StructType) -> ZarrReader:
        return ZarrReader(self.options["path"], schema,
                          self.options.get("columns"),
                          self._blob_conf())

    def writer(self, schema: T.StructType, overwrite: bool) -> ZarrWriter:
        return ZarrWriter(self.options["path"])


def register(spark) -> None:
    """Idempotently register the datasource with a session."""
    try:
        spark.dataSource.register(ZarrDataSource)
    except Exception:
        pass  # already registered
