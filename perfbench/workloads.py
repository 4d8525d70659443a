"""The three closed-loop, single-client workloads.

Each workload runs a fixed op list: blocks with fixed per-kind op
counts, shuffled by the seed within each block.  The seed also picks
the days, thresholds and upsert perturbations; the program under test
only ever sees the generated inputs and the resulting calls.

Every op keeps its raw result; the checks run after the timed window
against DuckDB on the generated source (rw workloads) or the registry's
``oracle_sql`` twins (operators).
"""

from __future__ import annotations

import contextlib
import shutil
import sys
from pathlib import Path

import duckdb
import numpy as np
from pyspark.sql import functions as F

import datagen
import hostprobe

YEAR_MONTH = "year == 2024 and month == 1"
#: The projection of both reads on the long-lived handle: one
#: ``ZarrCollection.to_df`` cache key, so they share a plan between
#: writes.
PROJECTION = ["value", "event_type"]


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


class Op:
    __slots__ = ("kind", "name", "params", "window", "lat_s", "net_s",
                 "result", "error", "state", "ok")

    def __init__(self, kind: str, name: str, params: tuple) -> None:
        self.kind, self.name, self.params = kind, name, params
        self.window = None  # None while warming up, else the window name
        self.lat_s = self.net_s = 0.0
        self.result = self.error = self.state = None
        self.ok = True


class Workload:
    """Shared loop: setup repetitions, warm-up, ops, blocks."""

    layout = None
    #: Untimed blocks before the window (see ``warm_up``).
    warm_blocks = 1

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = np.random.default_rng([seed, 99])
        self.ops: list[Op] = []
        self.tracer = None

    def next_block(self) -> list[Op]:
        raise NotImplementedError

    def run_op(self, op: Op) -> None:
        raise NotImplementedError

    def execute(self, op: Op, index: int) -> None:
        tr = self.tracer
        if tr:
            tr.begin_op(index, op.kind, op.name)
        sw = hostprobe.Stopwatch(cpu=False)
        try:
            self.run_op(op)
        except Exception as exc:  # counted in fail_frac, run continues
            op.error = f"{type(exc).__name__}: {exc}"[:500]
            op.ok = False
            print(f"op {op.name}{op.params} failed: {op.error}",
                  file=sys.stderr)
        t = sw.stop()
        op.lat_s, op.net_s = t["wall_s"], t["net_s"]
        if tr:
            tr.end_op(index, op.kind, op.name)
        self.ops.append(op)

    def reopen(self) -> None:
        """Drop handles opened before the tracer's wrappers went in."""

    def rows_matched(self, op: Op) -> int:
        """Rows a read's predicate selects (read amplification base)."""
        return 0

    def run_block(self, window: str | None, tracer=None) -> None:
        """One block; ``tracer`` records its ops (None: a plain block)."""
        self.tracer = tracer
        try:
            for op in self.next_block():
                op.window = window
                self.execute(op, len(self.ops))
        finally:
            self.tracer = None

    def warm_up(self) -> list[dict]:
        """A fixed number of untimed blocks; their stopwatch readings.
        The first pays the JIT-cold pass (1.5-4x a warm block) and the
        next ones still drift faster; ``STEADINESS.md`` has the block
        times the count was chosen from.  A stop rule on block times
        ("until settled") put runs near its threshold on either side,
        which made the warm state and ``setup_s`` bimodal."""
        out = []
        for _ in range(self.warm_blocks):
            sw = hostprobe.Stopwatch(cpu=False)
            self.run_block(None)
            out.append(sw.stop())
        return out


# ----------------------------------------------------------------------
# hive_rw / zarr_rw
# ----------------------------------------------------------------------
def _cents(col="value"):
    return F.round(F.col(col) * 100).cast("long")


def _fingerprint():
    """Per-row integer fingerprint DuckDB reproduces bit for bit (Spark's
    xxhash64 has no DuckDB twin); bounded far below 2**63, so neither it
    nor its XOR aggregate can overflow under ANSI."""
    return (F.col("event_id") * 1000003 + _cents() * 7919
            + F.col("user_id") * 31 + F.length("event_type") * 3
            + F.length("props") + (F.unix_micros("ts") % 999983) * 65537)


def _fingerprint_agg(df):
    """Row count, order-insensitive fingerprint and exact cent sum."""
    return df.agg(F.count(F.lit(1)), F.bit_xor(_fingerprint()),
                  F.sum(_cents()))


def _per_event_type(df):
    """Rows and exact cent sum per event type: the projected reads."""
    return df.groupBy("event_type").agg(F.count(F.lit(1)), F.sum(_cents()))


_DUCK_FP = ("event_id * 1000003 + cents * 7919 + user_id * 31 "
            "+ length(event_type) * 3 + length(props) "
            "+ (epoch_us(ts) % 999983) * 65537")


class RWWorkload(Workload):
    """Date("D") collection over events; 3 reads + 1 upsert per block."""

    n_rows = 8_000
    n_days = 8
    span_days = 3
    where_parts = 2

    def __init__(self, spark, work: Path, seed: int, layout: str) -> None:
        super().__init__(spark, work, seed)
        self.layout = layout
        # a zarr block costs ~3x a hive block; two keep the run short.
        # Zarr blocks are flat after one warm-up block; hive blocks stay
        # within ~12 % until a second step down six to eight blocks in.
        self.min_blocks = 3 if layout == "hive" else 2
        self.warm_blocks = 2 if layout == "hive" else 1
        src_dir = work / "src"
        datagen.write_events(src_dir, self.n_rows, self.n_days, seed)
        self.src_path = src_dir / "events.parquet"
        from zcollection_spark.data import load_table
        self.src = load_table(spark, str(src_dir), "events")
        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE TABLE src AS SELECT *, day(ts) AS day, "
            f"CAST(round(value * 100) AS BIGINT) AS cents0 "
            f"FROM '{self.src_path}'")
        daily_max = [r[0] for r in self.duck.execute(
            "SELECT max(value) FROM src GROUP BY day ORDER BY 1 DESC")
            .fetchall()]
        k = self.where_parts
        self.where_range = (daily_max[k] + 0.1, daily_max[k - 1] - 0.1)
        self.user_bytes = self.duck.execute(
            "SELECT sum(32 + strlen(event_type) + strlen(props)) FROM src"
        ).fetchone()[0]
        self.delta: dict[int, float] = {}
        self.coll = None
        self.path = None

    # -- layout ------------------------------------------------------
    def _create(self, path: str):
        import zcollection_spark as zc
        from zcollection_spark.schema import infer_schema
        kw = dict(schema=infer_schema(self.src.schema, axis="ts"),
                  axis="ts",
                  partitioning=zc.Date(("ts",), resolution="D"),
                  stats_columns=["value"], overwrite=True)
        if self.layout == "zarr":
            from zcollection_spark.zarr3.collection import \
                create_zarr_collection
            return create_zarr_collection(self.spark, path, **kw)
        return zc.create_collection(self.spark, path, **kw)

    def _open(self, path: str):
        if self.layout == "zarr":
            from zcollection_spark.zarr3.collection import \
                open_zarr_collection
            return open_zarr_collection(self.spark, path)
        import zcollection_spark as zc
        return zc.open_collection(self.spark, path, mode="rw")

    def build(self, index: int) -> None:
        """One set-up repetition: create the collection, insert events."""
        path = str(self.work / f"coll{index}")
        self._create(path).insert(self.src)
        self.path = path

    def ready(self) -> None:
        """Keep the last build as the live collection, drop the others."""
        for p in self.work.glob("coll*"):
            if str(p) != self.path:
                shutil.rmtree(p, ignore_errors=True)
        self.coll = self._open(self.path)

    def reopen(self) -> None:
        self.coll = self._open(self.path)

    def rows_matched(self, op: Op) -> int:
        if op.error:
            return 0
        if op.name == "open_day":
            return op.result[0][0]
        return sum(r[1] for r in op.result)

    # -- schedule ----------------------------------------------------
    def next_block(self) -> list[Op]:
        rng = self.rng
        lo, hi = self.where_range
        thr = round(float(rng.uniform(lo, hi)) if hi > lo
                    else (lo + hi) / 2, 2)
        block = [
            Op("read", "open_day", (int(rng.integers(1, self.n_days + 1)),)),
            Op("read", "span_agg",
               (int(rng.integers(1, self.n_days - self.span_days + 2)),)),
            Op("read", "where", (thr,)),
            Op("write", "upsert", (int(rng.integers(1, self.n_days + 1)),
                                   int(rng.integers(1, 10)) / 100.0)),
        ]
        return [block[i] for i in rng.permutation(len(block))]

    def _materialise(self, df):
        tr = self.tracer
        if tr:
            with tr.span("spark.optimize"):
                df._jdf.queryExecution().executedPlan()
        with _span(tr, "spark.execute"):
            return [tuple(r) for r in df.collect()]

    def run_op(self, op: Op) -> None:
        tr = self.tracer
        name, p = op.name, op.params
        if name == "open_day":
            op.state = self.delta.get(p[0], 0.0)
            with _span(tr, "collection.open"):
                coll = self._open(self.path)
            with _span(tr, "collection.query_plan"):
                df = coll.query(filters=f"{YEAR_MONTH} and day == {p[0]}")
            op.result = self._materialise(_fingerprint_agg(df))
        elif name == "span_agg":
            days = range(p[0], p[0] + self.span_days)
            op.state = tuple(self.delta.get(d, 0.0) for d in days)
            with _span(tr, "collection.query_plan"):
                df = self.coll.query(
                    filters=f"{YEAR_MONTH} and day >= {days[0]} "
                            f"and day <= {days[-1]}",
                    variables=PROJECTION)
            op.result = self._materialise(_per_event_type(df))
        elif name == "where":
            op.state = dict(self.delta)
            with _span(tr, "collection.query_plan"):
                df = self.coll.query(where=f"value > {p[0]}",
                                     variables=PROJECTION)
            op.result = self._materialise(_per_event_type(df))
        else:
            day, delta = p
            batch = (self.src.where(F.dayofmonth("ts") == day)
                     .withColumn("value", F.col("value") + F.lit(delta)))
            with _span(tr, "collection.insert"):
                self.coll.insert(batch, merge="upsert")
            self.delta[day] = delta

    # -- checks ------------------------------------------------------
    def _duck_rows(self, where: str, delta: dict, select: str,
                   group: str = "") -> list[tuple]:
        if delta:
            values = ", ".join(f"({d}, {v!r})" for d, v in delta.items())
            dsql = f"(VALUES {values}) AS dl(d, delta)"
        else:
            dsql = "(SELECT 0 AS d, 0.0 AS delta) AS dl"
        sql = (f"WITH s AS (SELECT src.* REPLACE ("
               f"value + coalesce(dl.delta, 0.0) AS value) "
               f"FROM src LEFT JOIN {dsql} ON src.day = dl.d), "
               f"t AS (SELECT *, CAST(round(value * 100) AS BIGINT) AS cents "
               f"FROM s) SELECT {select} FROM t WHERE {where} {group}")
        return self.duck.execute(sql).fetchall()

    def expected(self, op: Op):
        per_type = ("event_type, count(*), sum(cents)",
                    "GROUP BY event_type")
        if op.name == "open_day":
            d = op.params[0]
            rows = self._duck_rows(
                f"day = {d}", {d: op.state},
                f"count(*), bit_xor({_DUCK_FP}), sum(cents)")
        elif op.name == "span_agg":
            days = range(op.params[0], op.params[0] + self.span_days)
            rows = self._duck_rows(
                f"day BETWEEN {days[0]} AND {days[-1]}",
                dict(zip(days, op.state)), *per_type)
        else:
            rows = self._duck_rows(f"value > {op.params[0]}", op.state,
                                   *per_type)
        # an empty match: Spark's global agg gives (0, NULL, NULL)
        return sorted(tuple(0 if v is None else v for v in r) for r in rows)

    def check(self) -> bool:
        """Check every read, then the final state day by day; a wrong day
        fails the writes that touched it."""
        cache: dict = {}
        for op in self.ops:
            if op.kind != "read" or op.error:
                continue
            key = (op.name, op.params, repr(op.state))
            if key not in cache:
                cache[key] = self.expected(op)
            got = sorted(tuple(0 if v is None else v for v in r)
                         for r in op.result)
            op.ok = got == cache[key]
        got = {r[0]: tuple(r[1:]) for r in
               self.coll.query().groupBy(F.dayofmonth("ts").alias("d"))
               .agg(F.count(F.lit(1)), F.bit_xor(_fingerprint()),
                    F.sum(_cents()))
               .collect()}
        want = {r[0]: tuple(r[1:]) for r in self._duck_rows(
            "true", self.delta,
            f"day, count(*), bit_xor({_DUCK_FP}), sum(cents)",
            "GROUP BY day")}
        bad = {d for d in set(got) | set(want) if got.get(d) != want.get(d)}
        for op in self.ops:
            if op.name == "upsert" and op.params[0] in bad:
                op.ok = False
        self.final_ok = not bad
        return all(op.ok for op in self.ops) and self.final_ok

    def bytes_per_user_byte(self) -> float:
        return _dir_bytes(Path(self.path)) / self.user_bytes


# ----------------------------------------------------------------------
# operators
# ----------------------------------------------------------------------
#: Queried operators: the result is collected to the client.  With the
#: write below they cover aggregation (pricing), vectors (knn), an
#: Arrow-UDF dedup and text (tf-idf); four, not six, because each
#: distinct operator adds its own JIT-cold first pass to every run.
READ_OPERATORS = ("pricing_summary", "knn_ivf", "dedup_minhash")
#: A pipeline stage: the result is persisted as parquet for the next one
#: (thousands of rows, so the bytes ratio is not all parquet footer).
WRITE_OPERATORS = ("tfidf_topk",)
OPERATOR_TABLES = ("documents", "embeddings", "lineitem")


class OperatorsWorkload(Workload):
    """Registry operators over generated tables: per round, each read
    operator collected once and each write operator's output persisted
    as parquet, with the Spark cache cleared before every op."""

    n_docs = 600
    n_vecs = 400
    n_lines = 20_000
    min_blocks = 2
    warm_blocks = 2

    def __init__(self, spark, work: Path, seed: int) -> None:
        super().__init__(spark, work, seed)
        import __spark_entry__ as entry
        self.entry = entry
        self.queries = entry.queries()
        self.sf_dir = None
        self.out_dir = work / "out"
        self.written: list[Path] = []

    def build(self, index: int) -> None:
        """One set-up repetition: generate the operator tables."""
        self.sf_dir = str(datagen.write_operator_tables(
            self.work / f"sf{index}", self.seed, n_docs=self.n_docs,
            n_vecs=self.n_vecs, n_lines=self.n_lines))

    def ready(self) -> None:
        for p in self.work.glob("sf*"):
            if str(p) != self.sf_dir:
                shutil.rmtree(p, ignore_errors=True)

    def next_block(self) -> list[Op]:
        block = [Op("read", n, ()) for n in READ_OPERATORS] + \
                [Op("write", n, ()) for n in WRITE_OPERATORS]
        return [block[i] for i in self.rng.permutation(len(block))]

    def run_op(self, op: Op) -> None:
        tr = self.tracer
        self.spark.catalog.clearCache()
        with _span(tr, "functions.build"):
            df = self.queries[op.name](self.spark, self.sf_dir)
        if tr:
            with tr.span("spark.optimize"):
                df._jdf.queryExecution().executedPlan()
        if op.kind == "read":
            with _span(tr, "spark.execute"):
                op.result = (df.columns, [tuple(r) for r in df.collect()])
        else:
            out = self.out_dir / f"op{len(self.ops)}"
            with _span(tr, "spark.write"):
                df.write.mode("overwrite").parquet(str(out))
            op.result = out
            self.written.append(out)

    def check(self) -> bool:
        sys.path.insert(0, str(Path(self.entry.__file__).parent / "tools"))
        from check_oracle import table_hash
        oracles = self.entry.oracle_sql(self.sf_dir)
        con = duckdb.connect()
        for t in OPERATOR_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        want: dict[str, tuple] = {}
        self.user_bytes = 0
        for op in self.ops:
            if op.error:
                continue
            if op.name not in want:
                res = con.execute(oracles[op.name])
                cols = [d[0] for d in res.description]
                want[op.name] = (sorted(cols),
                                 table_hash(cols, res.fetchall()))
            if op.kind == "read":
                cols, rows = op.result
            else:
                res = con.execute(f"SELECT * FROM '{op.result}/*.parquet'")
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                self.user_bytes += sum(_raw_bytes(r) for r in rows)
            op.ok = (sorted(cols), table_hash(cols, rows)) == want[op.name]
        self.final_ok = True
        return all(op.ok for op in self.ops)

    def bytes_per_user_byte(self) -> float:
        disk = sum(_dir_bytes(p) for p in self.written)
        return disk / self.user_bytes if self.user_bytes else 0.0


def _raw_bytes(row: tuple) -> int:
    """Bytes of a row's values as a user holds them: 8 per number,
    the UTF-8 length of a string."""
    return sum(len(v.encode()) if isinstance(v, str) else 8 for v in row)
