"""Change-data-capture streaming source over catalog generations.

``stream_changes(spark, path)`` returns a Structured Streaming
DataFrame of partition-level change events — one row per partition
added/replaced/removed per catalog commit::

    generation: long   -- the commit that produced the change
    relpath:    string -- partition directory, e.g. year=2024/month=1
    change:     string -- 'added' | 'removed'

Offsets ARE catalog generations: the source's offset dict carries the
last streamed generation, each micro-batch diffs the current catalog
document against the per-generation snapshot (``Catalog.read_at``), and
replay between two committed offsets re-reads the immutable snapshot
files — so a restarted query resumes exactly where it left off as long
as snapshot retention (``verify --gc --keep-generations``) outlives the
checkpoint lag.  A diff base pruned by GC raises instead of silently
emitting nothing (consumers resync with a full scan, same contract as
``Collection.changes``).

This is the incremental-consumption primitive as a STREAM: a downstream
training-data pipeline subscribes once and processes partitions as
ingest commits them, instead of polling with full listings.  All rows
are metadata-scale (bounded by partitions-changed-per-commit), so the
driver-side simple reader is the right tool — the heavy lifting
(reading the changed partitions' data) happens in whatever batch job
the consumer launches per event.

No reference counterpart (single-process library, no CDC surface).
"""

from __future__ import annotations

from typing import Iterator, Tuple  # noqa: F401 (signature types)

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from .collection.catalog import Catalog, diff_documents
from .errors import StoreError

SCHEMA = T.StructType([
    T.StructField("generation", T.LongType()),
    T.StructField("relpath", T.StringType()),
    T.StructField("change", T.StringType()),
])


#: the one diff implementation, shared with Collection.changes
_diff_rows = diff_documents


class ChangesStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str):
        self._path = path.rstrip("/")
        self._catalog = None

    def _cat(self) -> Catalog:
        if self._catalog is None:
            from .fs import fs_for
            self._catalog = Catalog(fs_for(self._path), self._path)
        return self._catalog

    def _doc_at(self, generation: int) -> dict:
        if generation == 0:
            return {"generation": 0, "partitions": []}
        doc = self._cat().read_at(generation)
        if doc is None:
            raise StoreError(
                f"catalog generation {generation} is not available "
                f"(pruned history?) — restart the stream from scratch "
                f"after a full resync, or raise --keep-generations")
        return doc

    def initialOffset(self) -> dict:
        # start-of-stream: everything already in the collection is
        # history, not change events.  startingGeneration=0 (option on
        # the source) streams the full current state as 'added' first.
        return {"generation": self._cat().generation()}

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        since = int(start["generation"])
        cur = self._cat().read_doc() or {"generation": 0,
                                         "partitions": []}
        to_gen = int(cur.get("generation", 0))
        if to_gen <= since:
            # an ITERATOR, not a list: the engine probes an unadvanced
            # offset with next() (add_result_to_cache) — next([]) is a
            # TypeError that would kill the query on its first idle poll
            return iter(()), start
        base = self._doc_at(since)
        # a LIST (picklable prefetch cache), only for ADVANCED offsets
        return _diff_rows(base, cur, since), {"generation": to_gen}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        # replay a committed-but-unprocessed batch after restart: both
        # endpoints resolve through immutable snapshot files
        since = int(start["generation"])
        return _diff_rows(self._doc_at(since),
                          self._doc_at(int(end["generation"])), since)

    def commit(self, end: dict) -> None:
        pass  # retention is GC policy, not per-query


class ChangesDataSource(DataSource):
    """``spark.readStream.format("zchanges").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "zchanges"

    def schema(self) -> T.StructType:
        return SCHEMA

    def simpleStreamReader(self, schema: T.StructType):
        reader = ChangesStreamReader(self.options["path"])
        if int(self.options.get("startingGeneration", -1)) >= 0:
            start = int(self.options["startingGeneration"])
            reader.initialOffset = lambda: {"generation": start}  # type: ignore[method-assign]  # noqa: E501
        return reader


def register(spark: SparkSession) -> None:
    """Idempotently register the source with a session."""
    try:
        spark.dataSource.register(ChangesDataSource)
    except Exception as exc:
        # swallow ONLY the duplicate-registration case; a genuine
        # failure (unsupported session type) must not surface later as
        # an unrelated DATA_SOURCE_NOT_FOUND at .load()
        if "exist" not in str(exc).lower():
            raise


def stream_changes(spark: SparkSession, path: str, *,
                   starting_generation: int | None = None):
    """Streaming DataFrame of partition change events for the
    collection at ``path`` (see module docstring for semantics)."""
    register(spark)
    reader = (spark.readStream.format("zchanges")
              .option("path", path))
    if starting_generation is not None:
        reader = reader.option("startingGeneration",
                               int(starting_generation))
    return reader.load()
