"""Zone-map statistics and data-column partition skipping.

``create_collection(stats_columns=[...])`` commits per-partition
min/max/null-count of the named data columns in the same catalog PUT as
the partition list; ``query(where=...)`` uses them to skip partitions a
data-column predicate provably cannot match, then applies the exact
predicate to the scanned rows.  No reference counterpart — the
reference prunes on partition keys only
(``/root/reference/zcollection/partitioning/expression.py``); this is
the Delta/Iceberg-style data-skipping layer for the 100 TB case.

Pinned here:

- evaluator soundness (conservative may-match, ``not``-duality, nulls,
  all-null columns, unknown columns, mixed-type degrade);
- end-to-end: stats land in the catalog, ``where`` answers equal a
  full-scan filter, and the plan READS FEWER FILES when skipping fires;
- the stale-stats safety invariant: any republish without fresh stats
  (``update``) drops the partition's entry — conservative scans, never
  wrong pruning;
- append widening: a ``merge='concat'`` publish unions intervals and
  cannot narrow them;
- cost: parquet zone maps are folded from the staged files' footers and
  zarr's ride the write task, so neither runs an extra Spark job.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.errors import ExpressionError, SchemaError
from zcollection_spark.partitioning.zonemap import compile_zone_filter

# ---------------------------------------------------------------------------
# evaluator
# ---------------------------------------------------------------------------


def test_zone_eval_comparisons():
    f = compile_zone_filter("value > 10")
    assert f(None) is True                      # no stats: keep
    assert f({"value": [0, 5, 0]}) is False     # interval below
    assert f({"value": [0, 15, 0]}) is True     # straddles
    assert f({"other": [0, 5, 0]}) is True      # unknown column: keep
    assert f({"value": [None, None, 3]}) is False  # all-null: nothing matches
    assert compile_zone_filter("a < b")(
        {"a": [5, 9, 0], "b": [0, 4, 0]}) is False  # column-column


def test_zone_eval_not_duality():
    g = compile_zone_filter("not (value > 10)")
    assert g({"value": [20, 30, 0]}) is False   # must(>10) → may(not)=False
    assert g({"value": [5, 30, 0]}) is True
    # nulls block 'must', so 'not' stays conservative
    assert g({"value": [20, 30, 7]}) is True


def test_zone_eval_in_membership():
    h = compile_zone_filter("value in (3, 7)")
    assert h({"value": [4, 6, 0]}) is False
    assert h({"value": [4, 8, 0]}) is True
    i = compile_zone_filter("value not in (3, 7)")
    assert i({"value": [3, 3, 0]}) is False     # point interval in the set
    assert i({"value": [3, 4, 0]}) is True


def test_zone_eval_bool_ops_and_floats():
    j = compile_zone_filter("value == 2.5 and kind == 'b'")
    assert j({"value": [0.0, 1.0, 0], "kind": ["a", "z", 0]}) is False
    assert j({"value": [0.0, 3.0, 0], "kind": ["a", "z", 0]}) is True
    k = compile_zone_filter("value < -1.5 or value > 1.5")
    assert k({"value": [-1.0, 1.0, 0]}) is False
    assert k({"value": [-2.0, 1.0, 0]}) is True


def test_zone_eval_mixed_types_degrade_to_scan():
    assert compile_zone_filter("value > 'abc'")(
        {"value": [1, 2, 0]}) is True


def test_zone_eval_rejects_bad_grammar():
    with pytest.raises(ExpressionError):
        compile_zone_filter("__import__('os')")
    with pytest.raises(ExpressionError):
        compile_zone_filter("value + 1 > 2")


def test_partition_filter_dialect_still_rejects_floats():
    from zcollection_spark.partitioning import compile_filter
    with pytest.raises(ExpressionError):
        compile_filter("month == 1.5")  # reference quirk stays pinned
    compile_filter("value == 1.5", allow_float=True)  # where-dialect


# ---------------------------------------------------------------------------
# collection end-to-end
# ---------------------------------------------------------------------------


def _mk(spark, path, nums_values):
    """A Sequence-partitioned collection, one partition per num, with
    ``value`` intervals controlled per partition."""
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, path, schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), stats_columns=["value"])
    frames = []
    base = 0
    for num, values in nums_values.items():
        frames.append(pd.DataFrame({
            "i": np.arange(base, base + len(values), dtype=np.int64),
            "value": np.asarray(values, dtype=np.float64),
            "num": np.int64(num)}))
        base += len(values)
    pdf = pd.concat(frames, ignore_index=True)
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))
    return coll


def test_stats_committed_and_skipping_reads_fewer_files(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"), {
        1: [0.0, 5.0], 2: [10.0, 20.0], 3: [100.0, 200.0]})
    stats = coll._catalog.read_stats()
    assert stats["num=1"]["value"] == [0.0, 5.0, 0]
    assert stats["num=3"]["value"] == [100.0, 200.0, 0]

    full = coll.query()
    res = coll.query(where="value > 50.0")
    assert [r.value for r in res.collect()] == [100.0, 200.0]
    # the scale claim: skipping fired BEFORE file listing
    assert len(res.inputFiles()) < len(full.inputFiles())
    assert all("num=3" in f for f in res.inputFiles())

    # nothing can match → quirk-Q6 None, zero partitions listed
    assert coll.query(where="value > 1000.0") is None


def test_where_is_exact_not_just_zonal(spark, tmp_path):
    """Zone maps keep a partition whose interval straddles the bound;
    the row-level filter must still drop the non-matching rows."""
    coll = _mk(spark, str(tmp_path / "c"), {1: [0.0, 99.0], 2: [50.0]})
    got = sorted(r.value for r in
                 coll.query(where="value >= 50.0").collect())
    assert got == [50.0, 99.0]


def test_update_refreshes_stats_for_rewritten_partitions(spark, tmp_path):
    """``update`` rewrites partitions through the stats-aware write
    path, so the committed bounds describe the NEW values (stale bounds
    would prune wrongly after values change); untouched partitions keep
    theirs."""
    coll = _mk(spark, str(tmp_path / "c"), {1: [1.0, 2.0], 2: [3.0, 4.0]})

    def bump(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["value"] = pdf["value"] + 1000.0
        return pdf

    coll.update(bump, filters="num == 1")
    stats = coll._catalog.read_stats()
    assert stats["num=1"]["value"] == [1001.0, 1002.0, 0]
    assert stats["num=2"]["value"] == [3.0, 4.0, 0]
    got = sorted(r.value for r in
                 coll.query(where="value > 500.0").collect())
    assert got == [1001.0, 1002.0]
    # the OLD bounds may no longer prune this partition away
    assert coll.query(where="value > 100.0") is not None


def test_concat_append_widens_interval(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"), {1: [10.0, 20.0]})
    extra = pd.DataFrame({"i": np.array([100, 101], dtype=np.int64),
                          "value": np.array([-5.0, 90.0]),
                          "num": np.array([1, 1], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        extra, schema=coll.schema.to_struct_type()), merge="concat")
    stats = coll._catalog.read_stats()
    assert stats["num=1"]["value"] == [-5.0, 90.0, 0]
    got = sorted(r.value for r in
                 coll.query(where="value < 0.0").collect())
    assert got == [-5.0]


def test_merge_replace_refreshes_stats(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"), {1: [10.0, 20.0]})
    repl = pd.DataFrame({"i": np.array([0, 1], dtype=np.int64),
                         "value": np.array([500.0, 600.0]),
                         "num": np.array([1, 1], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        repl, schema=coll.schema.to_struct_type()))
    assert coll._catalog.read_stats()["num=1"]["value"] == [500.0, 600.0, 0]


def test_drop_partitions_drops_stats(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"), {1: [1.0], 2: [2.0]})
    coll.drop_partitions(filters="num == 1")
    assert set(coll._catalog.read_stats()) == {"num=2"}


def test_stats_columns_validation(spark, tmp_path):
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    with pytest.raises(SchemaError, match="stats column"):
        zc.create_collection(
            spark, str(tmp_path / "a"), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)), stats_columns=["nope"])


def test_stats_survive_reopen_and_crash_rollforward(spark, tmp_path):
    """Stats ride the publish intent: a crash after the intent but
    before the catalog PUT must roll the stats forward with the
    partitions."""
    from zcollection_spark.collection import staging

    coll = _mk(spark, str(tmp_path / "c"), {1: [1.0, 2.0]})
    # simulate: second insert crashes right after writing the intent
    orig = staging.apply_publish
    try:
        staging.apply_publish = lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("crash before publish"))
        more = pd.DataFrame({"i": np.array([50], dtype=np.int64),
                             "value": np.array([777.0]),
                             "num": np.array([2], dtype=np.int64)})
        with pytest.raises(RuntimeError):
            coll.insert(spark.createDataFrame(
                more, schema=coll.schema.to_struct_type()))
    finally:
        staging.apply_publish = orig
    coll.repair_catalog()  # rolls the staged insert forward
    stats = coll._catalog.read_stats()
    assert stats["num=2"]["value"] == [777.0, 777.0, 0]
    assert sorted(r.value for r in
                  coll.query(where="value > 700.0").collect()) == [777.0]


# ---------------------------------------------------------------------------
# zarr3 layout parity
# ---------------------------------------------------------------------------


def _mk_zarr(spark, path, nums_values):
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, path, schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), stats_columns=["value"])
    frames = []
    base = 0
    for num, values in nums_values.items():
        frames.append(pd.DataFrame({
            "i": np.arange(base, base + len(values), dtype=np.int64),
            "value": np.asarray(values, dtype=np.float64),
            "num": np.int64(num)}))
        base += len(values)
    pdf = pd.concat(frames, ignore_index=True)
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))
    return coll


def test_zarr3_stats_committed_and_where_prunes(spark, tmp_path):
    coll = _mk_zarr(spark, str(tmp_path / "z"), {
        1: [0.0, 5.0], 2: [10.0, 20.0], 3: [100.0, 200.0]})
    stats = coll._catalog.read_stats()
    assert stats["num=1"]["value"] == [0.0, 5.0, 0]
    assert stats["num=3"]["value"] == [100.0, 200.0, 0]
    got = sorted(r.value for r in
                 coll.query(where="value > 50.0").collect())
    assert got == [100.0, 200.0]
    # all partitions provably excluded → Q6 None, no scan at all
    assert coll.query(where="value > 1000.0") is None


def test_zarr3_where_exact_with_projection(spark, tmp_path):
    """where columns not in variables= must still filter, then drop."""
    coll = _mk_zarr(spark, str(tmp_path / "z"), {1: [0.0, 99.0],
                                                 2: [50.0]})
    res = coll.query(where="value >= 50.0", variables=["i"])
    assert res.columns == ["i"]
    assert res.count() == 2


def test_zarr3_reopen_keeps_stats_columns(spark, tmp_path):
    from zcollection_spark.zarr3.collection import open_zarr_collection
    coll = _mk_zarr(spark, str(tmp_path / "z"), {1: [1.0]})
    reopened = open_zarr_collection(spark, coll.path)
    assert reopened.stats_columns == ["value"]
    assert reopened.query(where="value < 0.5") is None


def test_zarr3_null_double_stats_describe_stored_nan(spark, tmp_path):
    """Zarr stores a null double as NaN, which reads back as NaN and
    matches ``value > 1000`` (NaN sorts above every number in Spark).
    The zone map must describe that stored NaN (TOP, no pruning) — a
    null count would prune the partition and answer None instead of
    the row a stats-less twin returns."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    rows = [(0, 1.0, 1), (1, None, 1), (2, 5.0, 2)]
    answers = []
    for name, stats in (("plain", None), ("stats", ["value"])):
        coll = create_zarr_collection(
            spark, str(tmp_path / name), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)), stats_columns=stats)
        coll.insert(spark.createDataFrame(
            rows, "i long, value double, num long"))
        res = coll.query(where="value > 1000")
        answers.append(None if res is None
                       else sorted(r.i for r in res.collect()))
    assert answers[0] == answers[1] == [1]
    assert coll._catalog.read_stats()["num=1"]["value"] == [None, None, 0]
    assert coll.query(where="value > 1000", filters="num == 2") is None


def _jobs_of(spark, group: str, action) -> int:
    """Spark jobs ``action()`` runs, counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_zarr3_stats_cost_no_spark_job(spark, tmp_path):
    """Zone maps and blooms ride the zarr write task: an upsert on a
    collection with ``stats_columns`` and ``bloom_columns`` runs exactly
    as many Spark jobs as on a twin without them."""
    import uuid
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    ddl = "i long, uid long, value double, num long"
    first = [(i, 100 + i, float(i), i % 3) for i in range(12)]
    upsert = [(i, 500 + i, -float(i), i % 3) for i in range(6, 18)]
    counts = []
    for name, extra in (("plain", {}),
                        ("stats", {"stats_columns": ["value"],
                                   "bloom_columns": ["uid"]})):
        coll = create_zarr_collection(
            spark, str(tmp_path / name), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)), **extra)
        coll.insert(spark.createDataFrame(first, ddl))
        df = spark.createDataFrame(upsert, ddl)
        counts.append(_jobs_of(
            spark, f"zarr-upsert-{uuid.uuid4().hex}",
            lambda: coll.insert(df, merge="upsert")))
    assert counts[0] == counts[1] > 0
    stats = coll._catalog.read_stats()
    assert sorted(stats) == ["num=0", "num=1", "num=2"]
    assert stats["num=0"]["value"] == [-15.0, 3.0, 0]
    assert coll.query(where="uid == 517") is not None
    assert coll.query(where="uid == 106") is None  # upserted away


def test_parquet_stats_cost_no_spark_job(spark, tmp_path, monkeypatch):
    """Parquet zone maps come from the staged files' footers: an upsert
    on a collection with ``stats_columns`` runs exactly as many Spark
    jobs as on a twin without them.  With ``bloom_columns`` the only
    extra jobs are the bloom aggregation's, and its scan reads the
    staged output alone — never the write lineage."""
    import uuid
    from zcollection_spark.collection import collection as collmod
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    ddl = "i long, uid long, value double, num long"
    first = [(i, 100 + i, float(i), i % 3) for i in range(12)]
    upsert = [(i, 500 + i, -float(i), i % 3) for i in range(6, 18)]

    blooms = []
    real_blooms = collmod.collect_bloom_stats

    def counted_blooms(df, *args, **kwargs):
        """Run the bloom aggregation in a job group of its own."""
        sc = spark.sparkContext
        outer = sc.getLocalProperty("spark.jobGroup.id")
        out = []
        jobs = _jobs_of(spark, f"bloom-{uuid.uuid4().hex}",
                        lambda: out.append(real_blooms(df, *args,
                                                       **kwargs)))
        sc.setJobGroup(outer, outer)
        blooms.append((jobs, df._jdf.queryExecution().executedPlan()
                       .toString(), df.inputFiles()))
        return out[0]

    monkeypatch.setattr(collmod, "collect_bloom_stats", counted_blooms)
    counts = []
    for name, extra in (("plain", {}),
                        ("stats", {"stats_columns": ["value"]}),
                        ("bloom", {"stats_columns": ["value"],
                                   "bloom_columns": ["uid"]})):
        coll = zc.create_collection(
            spark, str(tmp_path / name), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)), **extra)
        coll.insert(spark.createDataFrame(first, ddl))
        blooms.clear()
        df = spark.createDataFrame(upsert, ddl)
        counts.append(_jobs_of(
            spark, f"parquet-upsert-{uuid.uuid4().hex}",
            lambda: coll.insert(df, merge="upsert")))
    assert counts[0] == counts[1] == counts[2] > 0
    [(bloom_jobs, plan, files)] = blooms
    assert bloom_jobs >= 1
    # one scan, of parquet files under the staging dir only
    assert plan.count("Scan") == 1 and "FileScan parquet" in plan, plan
    assert files and all("/_staging/" in f for f in files), files
    stats = coll._catalog.read_stats()
    assert sorted(stats) == ["num=0", "num=1", "num=2"]
    assert stats["num=0"]["value"] == [-15.0, 3.0, 0]
    assert coll.query(where="uid == 517") is not None
    assert coll.query(where="uid == 106") is None  # upserted away


def test_footer_fold_decode_rules(spark, tmp_path):
    """``footer_zone_stats`` over footers of a second writer (pyarrow):
    row groups and files fold into one entry; an all-null column counts
    only nulls; INT32/INT64-backed decimals decode from the unscaled
    integer and widen outward; a key column's entry is its path value.
    TOP: a garbled string bound (pyarrow drops only a max past 4 KiB)
    and float bounds from a writer that leaves NaN out of them."""
    import glob
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zcollection_spark.collection.stats import footer_zone_stats
    dec = pa.decimal128(9, 2)
    metas = []
    for i, (n, d, s) in enumerate([
            ([1, None, -3], ["0.10", "2.50", None], ["b", "c", None]),
            ([7, 2, None], ["-1.25", None, None], ["a", "q" * 5000,
                                                   None])]):
        path = tmp_path / f"f{i}.parquet"
        pq.write_table(pa.table({
            "n": pa.array(n, pa.int64()),
            "d": pa.array([None if x is None else Decimal(x) for x in d],
                          dec),
            "s": pa.array(s, pa.string()),
            "v": pa.array([1.0, float("nan"), None], pa.float64()),
            "z": pa.array([None] * 3, pa.int64())}), path,
            row_group_size=2)
        metas.append(pq.read_metadata(path))
    got = footer_zone_stats({"num=4": metas}, zc.Sequence(("num",)),
                            ["d", "n", "num", "s", "v", "z"])["num=4"]
    assert got["n"] == [-3, 7, 2]
    assert got["z"] == [None, None, 6]
    assert got["num"] == [4, 4, 0]
    lo, hi, nulls = got["d"]
    assert (lo, hi, nulls) == (-1.25, 2.5, 3)  # both exact as floats
    assert got["s"] == [None, None, 0]
    assert got["v"] == [None, None, 0]
    # Spark stores decimal(10,2) as INT64, whose bounds pyarrow cannot
    # decode itself
    out = str(tmp_path / "spark")
    (spark.createDataFrame([(Decimal("1.23"),), (Decimal("-99999999.99"),),
                            (None,)], "d decimal(10,2)")
     .coalesce(1).write.parquet(out))
    metas = [pq.read_metadata(f) for f in glob.glob(f"{out}/*.parquet")]
    assert metas[0].schema.column(0).physical_type == "INT64"
    assert footer_zone_stats({"num=1": metas}, zc.Sequence(("num",)),
                             ["d"]) == {"num=1": {"d": [-99999999.99,
                                                        1.23, 1]}}


def test_temporal_stats_columns_rejected(spark, tmp_path):
    """ISO-string bounds do not order like Spark's timestamp casts
    ('2024-01-04' vs '2024-01-04T09:00' as text vs as time), so temporal
    stats columns could silently prune matching rows — both layouts
    refuse them at create."""
    from zcollection_spark.data import load_table
    from zcollection_spark.schema import infer_schema
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    with pytest.raises(SchemaError, match="temporal"):
        zc.create_collection(
            spark, str(tmp_path / "t"),
            schema=infer_schema(events.schema, axis="ts"), axis="ts",
            partitioning=zc.Date(("ts",), resolution="D"),
            stats_columns=["ts"])
    from zcollection_spark.zarr3.collection import create_zarr_collection
    df3 = events.select("event_id", "ts", "value")
    with pytest.raises(SchemaError, match="temporal"):
        create_zarr_collection(
            spark, str(tmp_path / "tz"),
            schema=infer_schema(df3.schema, axis="ts"), axis="ts",
            partitioning=zc.Date(("ts",), resolution="D"),
            stats_columns=["ts"])


def test_concat_into_new_partition_keeps_exact_stats(spark, tmp_path):
    """merge='concat' creating a BRAND-NEW partition: the appended rows
    are its entire content, so the fresh interval is exact and must be
    kept (only appends into an existing stats-less partition drop)."""
    coll = _mk(spark, str(tmp_path / "c"), {1: [10.0, 20.0]})
    extra = pd.DataFrame({"i": np.array([100, 101], dtype=np.int64),
                          "value": np.array([7.0, 8.0]),
                          "num": np.array([9, 9], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        extra, schema=coll.schema.to_struct_type()), merge="concat")
    stats = coll._catalog.read_stats()
    assert stats["num=9"]["value"] == [7.0, 8.0, 0]


def test_where_tautologies_match_filter_dialect(spark, tmp_path):
    """compile_filter accepts ''/'True'; the zone dialect must too, and
    identically whether or not the collection has committed stats."""
    coll = _mk(spark, str(tmp_path / "c"), {1: [1.0], 2: [2.0]})
    assert coll.query(where="").count() == 2
    assert coll.query(where="True").count() == 2
    assert compile_zone_filter("")({"value": [0, 1, 0]}) is True
    assert compile_zone_filter("True")(None) is True
    assert compile_zone_filter("False")({"value": [0, 1, 0]}) is False


def test_nan_partition_is_never_pruned(spark, tmp_path):
    """ADVICE r5 (high): Spark's aggregate ordering ranks NaN above
    every number, so raw F.max would store hi=NaN; NaN comparisons are
    all False in Python, silently pruning a partition that holds
    matching rows (500.0 — and the NaN row itself, which Spark's
    comparison semantics rank greater than any number).  Floating
    columns must collect NaN-free bounds and a NaN-holding partition
    must evaluate as TOP (always scanned)."""
    coll = _mk(spark, str(tmp_path / "c"), {
        1: [1.0, 500.0, -1.0], 2: [10.0, 20.0]})
    # the -1.0 sentinel becomes a GENUINE JVM-side NaN (a pandas NaN
    # would be converted to null on createDataFrame, missing the point)
    import pyspark.sql.functions as SF
    patched = (coll.query().withColumn(
        "value", SF.when(SF.col("value") < 0,
                         SF.lit(float("nan")))
        .otherwise(SF.col("value"))))
    coll.insert(patched, merge="replace")
    stats = coll._catalog.read_stats()
    # the poisoned partition stores the TOP form, the clean one exact
    assert stats["num=1"]["value"] == [None, None, 0]
    assert stats["num=2"]["value"] == [10.0, 20.0, 0]

    res = coll.query(where="value > 150.0")
    assert res is not None
    vals = [r.value for r in res.collect()]
    # 500.0 survives; NaN > 150.0 is TRUE under Spark semantics
    assert 500.0 in vals and any(np.isnan(v) for v in vals)
    # and the clean partition was still skipped by its real bounds
    assert all("num=2" not in f for f in res.inputFiles())


def test_nan_bound_in_old_catalog_degrades_to_scan():
    """Defense in depth: a catalog written BEFORE the NaN-free
    collection (json round-trips NaN) must evaluate as TOP, not prune."""
    from zcollection_spark.partitioning.zonemap import compile_zone_filter
    may = compile_zone_filter("value > 150.0")
    assert may({"value": [1.0, float("nan"), 0]}) is True
    assert may({"value": [float("nan"), float("nan"), 0]}) is True


def test_decimal_bounds_widen_not_round(spark, tmp_path):
    """ADVICE r5 (low): float(Decimal) rounds to nearest, which can
    round a stored min UP past the true min; bounds must widen outward
    so boundary predicates never prune the extreme row."""
    from decimal import Decimal

    from zcollection_spark.collection.stats import json_stat
    # a Decimal that is not exactly representable as a float
    d = Decimal("0.1000000000000000000000001")
    lo, hi = json_stat(d, "lo"), json_stat(d, "hi")
    assert lo <= float(d) <= hi and lo < hi
    # exactly-representable values stay exact in both directions
    assert json_stat(Decimal("0.5"), "lo") == 0.5
    assert json_stat(Decimal("0.5"), "hi") == 0.5


def test_widen_with_nan_top_form_poisons_union():
    """Appending a NaN-bearing batch (TOP-form stats [None,None,0]) to
    a clean partition must widen to TOP — keeping the clean bounds
    would prune a partition that now holds NaN rows (which Spark ranks
    above every number, so they match any > predicate)."""
    from zcollection_spark.collection.catalog import _widen_stats
    top, clean, allnull = [None, None, 0], [1.0, 5.0, 0], [None, None, 3]
    assert _widen_stats({"v": clean}, {"v": top}) == {"v": top}
    assert _widen_stats({"v": top}, {"v": clean}) == {"v": top}
    assert _widen_stats({"v": top}, {"v": allnull}) == {"v": top}
    # all-null + clean keeps the clean interval with summed nulls
    assert _widen_stats({"v": allnull}, {"v": clean}) == {"v": [1.0, 5.0, 3]}
    # clean + clean still unions exactly
    assert _widen_stats({"v": clean}, {"v": [0.5, 9.0, 1]}) \
        == {"v": [0.5, 9.0, 1]}


def test_nan_append_widens_existing_partition_to_top(spark, tmp_path):
    """End to end: concat-append NaN rows into a clean partition; the
    committed stats must become TOP and the partition must be scanned."""
    import pyspark.sql.functions as SF
    coll = _mk(spark, str(tmp_path / "c"), {1: [1.0, 5.0]})
    assert coll._catalog.read_stats()["num=1"]["value"] == [1.0, 5.0, 0]
    extra = (coll.query().withColumn("value", SF.lit(float("nan")))
             .withColumn("i", SF.col("i") + 100))
    coll.insert(extra, merge="concat")
    assert coll._catalog.read_stats()["num=1"]["value"] == [None, None, 0]
    res = coll.query(where="value > 150.0")
    assert res is not None and res.count() > 0  # the NaN rows match


# ---------------------------------------------------------------------------
# bloom filters: equality skipping on high-cardinality columns
# ---------------------------------------------------------------------------


def _mk_bloom(spark, path, nums_ids, **kw):
    """Sequence-partitioned collection with a high-cardinality string
    ``doc`` column and an int ``uid`` column, blooms on both."""
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("doc", "str", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, path, schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)),
        bloom_columns=["doc", "uid"], **kw)
    frames, base = [], 0
    for num, ids in nums_ids.items():
        frames.append(pd.DataFrame({
            "i": np.arange(base, base + len(ids), dtype=np.int64),
            "uid": np.asarray(ids, dtype=np.int64),
            "doc": [f"doc-{v}" for v in ids],
            "num": np.int64(num)}))
        base += len(ids)
    pdf = pd.concat(frames, ignore_index=True)
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))
    return coll


def test_bloom_point_lookup_prunes_partitions(spark, tmp_path):
    """Equality on a high-cardinality column skips partitions whose
    bloom proves the value absent — zone maps alone cannot (disjoint id
    SETS, overlapping id RANGES)."""
    coll = _mk_bloom(spark, str(tmp_path / "b"), {
        1: [10, 30, 50], 2: [20, 40, 60], 3: [15, 25, 35]})
    stats = coll._catalog.read_stats()
    assert "uid#bloom" in stats["num=1"] and "doc#bloom" in stats["num=1"]

    res = coll.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]
    assert all("num=2" in f for f in res.inputFiles())

    res = coll.query(where="doc == 'doc-15'")
    assert [r.doc for r in res.collect()] == ["doc-15"]
    assert all("num=3" in f for f in res.inputFiles())

    # IN: every candidate absent from a partition's bloom → skipped
    res = coll.query(where="uid in (20, 60)")
    assert sorted(r.uid for r in res.collect()) == [20, 60]
    assert all("num=2" in f for f in res.inputFiles())

    # no partition can hold the probe → quirk-Q6 None
    assert coll.query(where="uid == 9999") is None
    assert coll.query(where="doc == 'doc-9999'") is None


def test_bloom_soundness_present_and_cross_type(spark, tmp_path):
    """No false negatives: a present value always scans its partition;
    cross-type literals (float probe on an int column) must NOT prune —
    Spark's cast semantics could still match."""
    coll = _mk_bloom(spark, str(tmp_path / "b2"), {1: [7], 2: [8]})
    for uid in (7, 8):
        assert [r.uid for r in
                coll.query(where=f"uid == {uid}").collect()] == [uid]
    # float literal: bloom canon is str(7.0) != "7" — must degrade to
    # scan-everything, and Spark's exact filter still matches the row
    res = coll.query(where="uid == 7.0")
    assert [r.uid for r in res.collect()] == [7]
    assert len(res.inputFiles()) == 2  # NOT pruned


def test_bloom_append_merge_unions_filters(spark, tmp_path):
    """A concat append into an existing partition ORs the blooms: both
    the old and the new values keep matching."""
    coll = _mk_bloom(spark, str(tmp_path / "b3"), {1: [100]})
    pdf = pd.DataFrame({
        "i": np.array([50], dtype=np.int64),
        "uid": np.array([200], dtype=np.int64),
        "doc": ["doc-200"], "num": np.array([1], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()), merge="concat")
    for uid in (100, 200):
        assert [r.uid for r in
                coll.query(where=f"uid == {uid}").collect()] == [uid]
    assert coll.query(where="uid == 300") is None


def test_bloom_reopen_and_validation(spark, tmp_path):
    """Config survives reopen; non-int/string columns and missing
    catalog are rejected at create time."""
    coll = _mk_bloom(spark, str(tmp_path / "b4"), {1: [1]})
    re = zc.open_collection(spark, str(tmp_path / "b4"))
    assert re.bloom_columns == ["doc", "uid"]
    assert re.query(where="uid == 2") is None
    assert [r.uid for r in re.query(where="uid == 1").collect()] == [1]

    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    from zcollection_spark.errors import SchemaError
    with pytest.raises(SchemaError, match="integer or string"):
        zc.create_collection(
            spark, str(tmp_path / "bad"), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)),
            bloom_columns=["value"])
    with pytest.raises(SchemaError, match="bloom_bits"):
        zc.create_collection(
            spark, str(tmp_path / "bad2"), schema=schema, axis="i",
            partitioning=zc.Sequence(("num",)),
            bloom_columns=["num"], bloom_bits=100)


def test_zarr3_bloom_point_lookup_prunes(spark, tmp_path):
    """Bloom skipping works identically on the zarr layout: the filters
    commit in the same catalog PUT and the surviving partitions become
    the pushed key predicate."""
    from zcollection_spark.zarr3.collection import (create_zarr_collection,
                                                    open_zarr_collection)
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "zb"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), bloom_columns=["uid"])
    frames, base = [], 0
    for num, ids in {1: [10, 30], 2: [20, 40]}.items():
        frames.append(pd.DataFrame({
            "i": np.arange(base, base + len(ids), dtype=np.int64),
            "uid": np.asarray(ids, dtype=np.int64),
            "num": np.int64(num)}))
        base += len(ids)
    coll.insert(spark.createDataFrame(
        pd.concat(frames, ignore_index=True),
        schema=coll.schema.to_struct_type()))

    assert "uid#bloom" in coll._catalog.read_stats()["num=1"]
    res = coll.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]
    assert coll.query(where="uid == 9999") is None
    # reopen keeps the bloom config
    re = open_zarr_collection(spark, str(tmp_path / "zb"))
    assert re.bloom_columns == ["uid"]
    assert re.query(where="uid == 10").count() == 1


def test_bloom_and_zone_stats_coexist_and_widen(spark, tmp_path):
    """A collection with BOTH stats_columns and bloom_columns: the two
    entry shapes share the catalog stats map, and an append widens the
    interval while OR-ing the bloom."""
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, str(tmp_path / "bz"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)),
        stats_columns=["value"], bloom_columns=["uid"])

    def df(i0, uids, values):
        pdf = pd.DataFrame({
            "i": np.arange(i0, i0 + len(uids), dtype=np.int64),
            "uid": np.asarray(uids, dtype=np.int64),
            "value": np.asarray(values, dtype=np.float64),
            "num": np.int64(1)})
        return spark.createDataFrame(pdf,
                                     schema=coll.schema.to_struct_type())

    coll.insert(df(0, [10], [5.0]))
    coll.insert(df(10, [20], [50.0]), merge="concat")
    entry = coll._catalog.read_stats()["num=1"]
    assert entry["value"] == [5.0, 50.0, 0]        # widened interval
    for uid in (10, 20):                            # OR-ed bloom
        assert [r.uid for r in
                coll.query(where=f"uid == {uid}").collect()] == [uid]
    assert coll.query(where="uid == 30") is None
    # combined predicate: zone prunes on value, bloom on uid
    assert coll.query(where="uid == 10 and value > 100.0") is None


# ---------------------------------------------------------------------------
# sidecar blooms: bitsets past BLOOM_INLINE_MAX_BITS move out of state.json
# ---------------------------------------------------------------------------


def test_bloom_sidecar_layout_keeps_catalog_put_bounded(spark, tmp_path):
    """bloom_bits past the inline threshold: the state document carries
    content-addressed refs (~100 bytes/partition — the op-budget pin),
    payloads live under _catalog/blooms/, and point-lookup pruning is
    exactly as sharp as the inline layout via the two-pass resolve."""
    import json
    coll = _mk_bloom(spark, str(tmp_path / "sc"), {
        1: [10, 30, 50], 2: [20, 40, 60], 3: [15, 25, 35]},
        bloom_bits=8192)
    state = json.loads(
        (tmp_path / "sc" / "_catalog" / "state.json").read_text())
    entries = [v for rel in state["stats"]
               for c, v in state["stats"][rel].items()
               if c.endswith("#bloom")]
    assert len(entries) == 6  # 3 partitions x 2 bloom columns
    assert all("ref" in e and "b64" not in e for e in entries)
    blooms = sorted((tmp_path / "sc" / "_catalog" / "blooms").iterdir())
    assert {e["ref"] for e in entries} == {p.name for p in blooms}
    # op-budget pin: at 8 KiB filters the document would be ~8.5 KiB
    # PER ENTRY inlined (~51 KiB here); with refs the whole PUT stays
    # small and scales with partition COUNT, not filter size
    assert len(json.dumps(state)) < 4000

    # pruning through the sidecars is exact (pass 2 fetches + probes)
    res = coll.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]
    assert all("num=2" in f for f in res.inputFiles())
    res = coll.query(where="doc == 'doc-15'")
    assert all("num=3" in f for f in res.inputFiles())
    assert coll.query(where="uid == 9999") is None

    # a vanished/corrupt sidecar degrades to scan — never an error,
    # never a wrong prune (fresh collection: payload cache is empty)
    for p in blooms:
        p.unlink()
    cold = zc.open_collection(spark, str(tmp_path / "sc"))
    res = cold.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]
    assert len({f.rsplit("/", 2)[-2] for f in res.inputFiles()}) == 3


def test_bloom_sidecar_append_merge_and_sweep(spark, tmp_path):
    """Append publish ORs sidecar filters (old ref + fresh bitset →
    new content address); prune_history sweeps payloads no retained
    snapshot references, and never a referenced one."""
    coll = _mk_bloom(spark, str(tmp_path / "sm"), {1: [100]},
                     bloom_bits=8192)
    pdf = pd.DataFrame({
        "i": np.array([50], dtype=np.int64),
        "uid": np.array([200], dtype=np.int64),
        "doc": ["doc-200"], "num": np.array([1], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()), merge="concat")
    # the merged filter is exact: both generations' values hit, a
    # foreign value proves absence through the sidecar
    fresh = zc.open_collection(spark, str(tmp_path / "sm"))
    for uid in (100, 200):
        assert [r.uid for r in
                fresh.query(where=f"uid == {uid}").collect()] == [uid]
    assert fresh.query(where="uid == 300") is None

    bloom_dir = tmp_path / "sm" / "_catalog" / "blooms"
    before = {p.name for p in bloom_dir.iterdir()}
    assert len(before) >= 3  # gen-1 filters + merged gen-2 filters
    # default grace protects just-written payloads from a racing sweep
    coll._catalog.prune_history(keep_last=2)
    assert {p.name for p in bloom_dir.iterdir()} == before
    removed = coll._catalog.prune_history(keep_last=1,
                                          bloom_grace_seconds=0)
    assert removed or coll._catalog.last_swept  # maintenance ran
    after = {p.name for p in bloom_dir.iterdir()}
    assert after < before  # superseded payloads swept
    import json
    state = json.loads(
        (tmp_path / "sm" / "_catalog" / "state.json").read_text())
    live = {v["ref"] for rel in state["stats"]
            for c, v in state["stats"][rel].items()
            if c.endswith("#bloom")}
    assert live <= after  # everything referenced survived
    cold = zc.open_collection(spark, str(tmp_path / "sm"))
    assert cold.query(where="uid == 300") is None  # still prunes


def test_merge_bloom_entries_ref_without_loader_drops():
    """A sidecar entry reaching the widen path without a loader (or
    with an unreadable payload) drops the merged entry — scan, never
    mis-prune — and sweep on a collection without sidecars is a no-op."""
    from zcollection_spark.collection.stats import merge_bloom_entries
    import base64
    inline = {"m": 128, "k": 3, "t": "i",
              "b64": base64.b64encode(b"\x00" * 16).decode()}
    ref = {"m": 128, "k": 3, "t": "i", "ref": "deadbeef"}
    assert merge_bloom_entries(inline, ref) is None
    assert merge_bloom_entries(ref, inline, load=lambda r: None) is None
    out = merge_bloom_entries(
        ref, inline, load=lambda r: inline["b64"])
    assert out is not None and out["b64"] == inline["b64"]


def test_zarr3_sidecar_bloom_prunes_and_degrades(spark, tmp_path):
    """Layout parity: the zarr query path resolves sidecar bloom refs
    through the same survivor-only pass — exact point-lookup pruning
    past the inline threshold, scan-degrade when payloads vanish."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    import json
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("uid", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "zb"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)),
        bloom_columns=["uid"], bloom_bits=8192)
    rows = {1: [10, 30], 2: [20, 40], 3: [15, 25]}
    frames, base = [], 0
    for num, ids in rows.items():
        frames.append(pd.DataFrame({
            "i": np.arange(base, base + len(ids), dtype=np.int64),
            "uid": np.asarray(ids, dtype=np.int64),
            "num": np.int64(num)}))
        base += len(ids)
    coll.insert(spark.createDataFrame(
        pd.concat(frames, ignore_index=True),
        schema=coll.schema.to_struct_type()))

    state = json.loads(
        (tmp_path / "zb" / "_catalog" / "state.json").read_text())
    entries = [v for rel in state["stats"]
               for c, v in state["stats"][rel].items()
               if c.endswith("#bloom")]
    assert entries and all("ref" in e and "b64" not in e
                           for e in entries)

    res = coll.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]
    assert coll.query(where="uid == 9999") is None  # all pruned

    # vanished payloads: fresh open degrades to scan, never errors
    for p in (tmp_path / "zb" / "_catalog" / "blooms").iterdir():
        p.unlink()
    from zcollection_spark.zarr3.collection import open_zarr_collection
    cold = open_zarr_collection(spark, str(tmp_path / "zb"))
    res = cold.query(where="uid == 40")
    assert [r.uid for r in res.collect()] == [40]


def test_bloom_sidecar_concurrent_writers_converge(spark, tmp_path):
    """Two threads race concat-appends on a sidecar-bloom collection:
    the CAS commit loop re-runs externalization on retry
    (content-addressed writes are idempotent), so after both commits
    every referenced payload exists, both writers' values probe
    correctly, and a sweep removes only unreachable payloads."""
    import json
    import threading
    coll = _mk_bloom(spark, str(tmp_path / "cw"), {1: [100], 2: [200]},
                     bloom_bits=8192)
    other = zc.open_collection(spark, str(tmp_path / "cw"), mode="rw")
    barrier = threading.Barrier(2)
    failures: list = []

    def worker(c, num, uid):
        try:
            barrier.wait(timeout=60)
            pdf = pd.DataFrame({
                "i": np.array([uid], dtype=np.int64),
                "uid": np.array([uid], dtype=np.int64),
                "doc": [f"doc-{uid}"],
                "num": np.array([num], dtype=np.int64)})
            c.insert(spark.createDataFrame(
                pdf, schema=c.schema.to_struct_type()), merge="concat")
        except Exception as exc:
            failures.append(exc)

    threads = [threading.Thread(target=worker, args=(coll, 1, 111)),
               threading.Thread(target=worker, args=(other, 2, 222))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not failures, failures

    state = json.loads(
        (tmp_path / "cw" / "_catalog" / "state.json").read_text())
    refs = {v["ref"] for rel in state["stats"]
            for c, v in state["stats"][rel].items()
            if c.endswith("#bloom")}
    on_disk = {p.name for p in
               (tmp_path / "cw" / "_catalog" / "blooms").iterdir()}
    assert refs <= on_disk  # no dangling reference, ever
    fresh = zc.open_collection(spark, str(tmp_path / "cw"))
    for uid in (100, 111, 200, 222):  # both generations' values probe
        assert [r.uid for r in
                fresh.query(where=f"uid == {uid}").collect()] == [uid]
    assert fresh.query(where="uid == 999") is None
    coll._catalog.prune_history(keep_last=1)
    after = {p.name for p in
             (tmp_path / "cw" / "_catalog" / "blooms").iterdir()}
    assert refs <= after  # sweep never removes a live payload
