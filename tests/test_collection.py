"""Collection round-trip, pruning, projection, merges, map/update —
mirrors ``tests/test_roundtrip.py`` and ``tests/test_async_and_dask.py``
of the reference."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import zcollection_spark as zc


def _values(df, col="num"):
    return sorted(r[col] for r in df.collect())


# -- round-trip (test_roundtrip.py:20-160) ---------------------------------

def test_roundtrip_bit_exact(spark, seq_collection, seq_pdf):
    result = seq_collection.query().toPandas()
    assert list(result.columns) == ["num", "value", "static"]
    assert result["num"].tolist() == seq_pdf["num"].tolist()
    got = np.array(result["value"].tolist(), dtype=np.float32)
    want = np.arange(21, dtype=np.float32).reshape(7, 3)
    np.testing.assert_array_equal(got, want)
    # immutable broadcast-attached to every row
    for row in result["static"]:
        assert list(row) == [10.0, 20.0, 30.0]


def test_reopen_and_query(spark, seq_collection):
    coll = zc.open_collection(spark, seq_collection.path)
    assert len(coll.partitions()) == 3
    assert coll.query().count() == 7


def test_filter_pushdown(spark, seq_collection):
    assert _values(seq_collection.query(filters="num == 1")) == [1, 1]
    assert _values(seq_collection.query(
        filters="num >= 1 and num <= 2")) == [1, 1, 2, 2, 2]
    assert seq_collection.query(filters="num == 99") is None  # quirk Q6


def test_variable_projection(spark, seq_collection):
    res = seq_collection.query(variables=["num"])
    assert res.columns == ["num"]
    res2 = seq_collection.query(variables=["num", "static"])
    assert set(res2.columns) == {"num", "static"}


def test_drop_partitions(spark, seq_collection):
    dropped = seq_collection.drop_partitions(filters="num == 0")
    assert dropped == ["num=0"]
    assert _values(seq_collection.query()) == [1, 1, 2, 2, 2]
    seq_collection.drop_partitions()
    assert seq_collection.query() is None


def test_read_only_enforcement(spark, seq_collection, seq_pdf):
    ro = zc.open_collection(spark, seq_collection.path)
    df = spark.createDataFrame(seq_pdf)
    with pytest.raises(zc.ReadOnlyError):
        ro.insert(df)
    with pytest.raises(zc.ReadOnlyError):
        ro.drop_partitions()


def test_insert_missing_variable_rejected(spark, seq_collection, seq_pdf):
    with pytest.raises(zc.SchemaError, match="missing"):
        seq_collection.insert(
            spark.createDataFrame(seq_pdf.drop(columns=["value"])))


def test_create_overwrite(spark, tmp_path, seq_schema, seq_pdf):
    path = str(tmp_path / "c")
    zc.create_collection(spark, path, schema=seq_schema, axis="num",
                         partitioning=zc.Sequence(("num",)))
    with pytest.raises(zc.CollectionExistsError):
        zc.create_collection(spark, path, schema=seq_schema, axis="num",
                             partitioning=zc.Sequence(("num",)))
    zc.create_collection(spark, path, schema=seq_schema, axis="num",
                         partitioning=zc.Sequence(("num",)), overwrite=True)
    with pytest.raises(zc.CollectionNotFoundError):
        zc.open_collection(spark, str(tmp_path / "missing"))


# -- merge strategies (test_async_and_dask.py:189-595) ---------------------

def _date_df(spark, times, values):
    pdf = pd.DataFrame({"time": pd.to_datetime(times),
                        "v": np.asarray(values, dtype=np.float32)})
    return spark.createDataFrame(pdf)


def _result(coll):
    pdf = coll.query().toPandas()
    return list(zip(pdf["time"].dt.strftime("%Y-%m-%d"),
                    pdf["v"].astype(float)))


def test_merge_replace_default(spark, date_collection):
    date_collection.insert(
        _date_df(spark, ["2024-02-10"], [42.0]))
    # replace: February partition replaced outright
    assert _result(date_collection) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0),
        ("2024-02-10", 42.0), ("2024-03-01", 4.0)]


def test_merge_concat(spark, date_collection):
    date_collection.insert(_date_df(spark, ["2024-02-10"], [42.0]),
                           merge="concat")
    assert _result(date_collection) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-03", 2.0),
        ("2024-02-10", 42.0), ("2024-02-15", 3.0), ("2024-03-01", 4.0)]


def test_merge_time_series(spark, date_collection):
    # FIXTURES.md F2: insert [2024-04-10 (99), 2024-02-10 (42)] → existing
    # rows inside the per-partition window [02-10 .. 02-10] dropped (02-15
    # remains OUT of the window because the window is per colliding
    # partition Feb: [02-10, 02-10]... the reference computes window over
    # the inserted slice of that partition: min=max=02-10 → only rows AT
    # 02-10 dropped; 02-03 and 02-15 survive)
    date_collection.insert(
        _date_df(spark, ["2024-04-10", "2024-02-10"], [99.0, 42.0]),
        merge="time_series")
    assert _result(date_collection) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-03", 2.0),
        ("2024-02-10", 42.0), ("2024-02-15", 3.0), ("2024-03-01", 4.0),
        ("2024-04-10", 99.0)]


def test_merge_time_series_window_drop(spark, date_collection):
    # window spanning [02-01 .. 02-20] drops 02-03 and 02-15
    date_collection.insert(
        _date_df(spark, ["2024-02-01", "2024-02-20"], [10.0, 20.0]),
        merge="time_series")
    assert _result(date_collection) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-01", 10.0),
        ("2024-02-20", 20.0), ("2024-03-01", 4.0)]


def test_merge_upsert(spark, date_collection):
    # F2: replace 02-15, keep others, add 02-20 + 04-10
    date_collection.insert(
        _date_df(spark, ["2024-02-15", "2024-02-20", "2024-04-10"],
                 [99.0, 77.0, 55.0]),
        merge="upsert")
    assert _result(date_collection) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-03", 2.0),
        ("2024-02-15", 99.0), ("2024-02-20", 77.0), ("2024-03-01", 4.0),
        ("2024-04-10", 55.0)]


def test_merge_upsert_within_tolerance(spark, date_collection):
    # jittered timestamp 2024-02-15 00:00:30 matches 02-15 within 60 s
    jittered = _date_df(spark, ["2024-02-15 00:00:30"], [99.0])
    date_collection.insert(jittered, merge=zc.upsert_within(60.0))
    pdf = date_collection.query().toPandas()
    feb = pdf[pdf["time"].dt.month == 2]
    assert sorted(feb["v"].tolist()) == [2.0, 99.0]  # 02-15 replaced


def test_merge_upsert_outside_tolerance(spark, date_collection):
    jittered = _date_df(spark, ["2024-02-15 00:05:00"], [99.0])
    date_collection.insert(jittered, merge=zc.upsert_within(60.0))
    pdf = date_collection.query().toPandas()
    feb = pdf[pdf["time"].dt.month == 2]
    assert sorted(feb["v"].tolist()) == [2.0, 3.0, 99.0]  # kept both


# -- map / update (collection/base.py:638-794) -----------------------------

def test_map(spark, seq_collection):
    def stats(pdf):
        return pd.DataFrame({"num": [pdf["num"].iloc[0]],
                             "n": [len(pdf)]})

    res = seq_collection.map(stats, "num long, n long")
    assert sorted((r["num"], r["n"]) for r in res.collect()) == [
        (0, 2), (1, 2), (2, 3)]


def test_map_collect(spark, seq_collection):
    def stats(pdf):
        return pd.DataFrame({"num": [pdf["num"].iloc[0]],
                             "n": [len(pdf)]})

    out = seq_collection.map_collect(stats, "num long, n long")
    assert list(out) == ["num=0", "num=1", "num=2"]
    assert out["num=2"]["n"].iloc[0] == 3


def test_map_sees_immutable(spark, seq_collection):
    def peek(pdf):
        return pd.DataFrame({"num": [pdf["num"].iloc[0]],
                             "s0": [float(pdf["static"].iloc[0][0])]})

    res = seq_collection.map(peek, "num long, s0 double")
    assert all(r["s0"] == 10.0 for r in res.collect())


def test_update(spark, seq_collection):
    def double(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"].map(lambda a: [2 * x for x in a])
        return pdf[["num", "value"]]

    seq_collection.update(double)
    got = np.array(seq_collection.query().toPandas()["value"].tolist(),
                   dtype=np.float32)
    np.testing.assert_array_equal(
        got, 2 * np.arange(21, dtype=np.float32).reshape(7, 3))


def test_update_keeps_immutables_out_of_partition_files(spark,
                                                        seq_collection):
    """``fn`` sees the float32 immutable ``static`` and hands it back;
    the rewritten partition files still store only the partitioned
    variables (``static`` lives in ``_immutable``) and reads attach it
    as before."""
    import glob

    import pyarrow.parquet as pq

    def double(pdf):
        return pdf.assign(value=pdf["value"].map(
            lambda a: [2 * x for x in a]))

    seq_collection.update(double)
    files = glob.glob(f"{seq_collection.path}/num=*/*.parquet")
    assert files
    for path in files:
        assert pq.read_schema(path).names == ["value", "_row_idx"]
    rows = seq_collection.query().collect()
    assert len(rows) == 7
    assert all(r["static"] == [10.0, 20.0, 30.0] for r in rows)


def test_update_missing_variable_strict(spark, seq_collection):
    def drop_value(pdf):
        return pdf[["num"]]

    with pytest.raises(zc.SchemaError, match="Q4"):
        seq_collection.update(drop_value)


def test_update_with_filter(spark, seq_collection):
    def bump(pdf):
        pdf = pdf.copy()
        pdf["value"] = pdf["value"].map(lambda a: [x + 100 for x in a])
        return pdf[["num", "value"]]

    seq_collection.update(bump, filters="num == 1")
    pdf = seq_collection.query().toPandas()
    arr = np.array(pdf["value"].tolist())
    assert arr[:2].max() < 100 and 100 <= arr[2:4].min() \
        and arr[4:].max() < 100


# -- catalog ---------------------------------------------------------------

def test_catalog_repair_after_corruption(spark, seq_collection, tmp_path):
    cat_file = tmp_path / "seq" / "_catalog" / "state.json"
    cat_file.write_text("{broken")
    assert len(seq_collection.partitions()) == 3  # walk fallback
    seq_collection.repair_catalog()
    assert len(seq_collection.partitions()) == 3


def test_grouped_sequence_collection(spark, tmp_path):
    pdf = pd.DataFrame({
        "cycle": np.repeat(np.arange(2, dtype=np.int64), 100),
        "pass_no": np.tile(np.arange(1, 101, dtype=np.int64), 2),
        "val": np.arange(200, dtype=np.float32)})
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("cycle", "int64", ("time",))
              .add_variable("pass_no", "int64", ("time",))
              .add_variable("val", "float32", ("time",)).build())
    coll = zc.create_collection(
        spark, str(tmp_path / "g"), schema=schema, axis="time",
        partitioning=zc.GroupedSequence(("cycle", "pass_no"), size=50,
                                        start=1))
    coll.insert(spark.createDataFrame(pdf))
    assert coll.partitions() == [
        "cycle=0/pass_no_bucket=1", "cycle=0/pass_no_bucket=51",
        "cycle=1/pass_no_bucket=1", "cycle=1/pass_no_bucket=51"]
    res = coll.query(filters="cycle == 0 and pass_no_bucket == 51")
    pdf_res = res.toPandas()
    assert len(pdf_res) == 50
    assert pdf_res["pass_no"].min() == 51 and pdf_res["pass_no"].max() == 100


def test_compact_merges_small_files(spark, tmp_path, date_schema, date_pdf):
    import zcollection_spark as zc
    from pathlib import Path
    coll = zc.create_collection(
        spark, str(tmp_path / "cmp"), schema=date_schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    bound = date_schema.with_partition_axis("time")
    sdf = spark.createDataFrame(date_pdf, schema=bound.to_struct_type())
    coll.insert(sdf)
    coll.insert(sdf.withColumn("v", sdf.v + 100), merge="concat")
    coll.insert(sdf.withColumn("v", sdf.v + 200), merge="concat")
    want = [tuple(r) for r in
            coll.query().orderBy("time", "v").collect()]
    rel0 = coll.partitions()[0]
    n_before = sum(1 for _ in Path(coll.path, rel0).glob("*.parquet"))
    assert n_before >= 3, "concat should leave one file per batch"

    report = coll.compact()
    assert report[rel0] == n_before
    n_after = sum(1 for _ in Path(coll.path, rel0).glob("*.parquet"))
    assert n_after == 1
    got = [tuple(r) for r in coll.query().orderBy("time", "v").collect()]
    assert got == want
    # _row_idx preserved verbatim: index-style row ranges stay valid
    raw = coll._load(keep_internal=True)
    assert raw.where("_row_idx is null").count() == 0
    # 3 inserts of the 2/2/1 rows-per-month fixture
    per_part = {r["month"]: r["count"] for r in
                raw.groupBy("year", "month").count().collect()}
    assert per_part == {1: 6, 2: 6, 3: 3}


def test_compact_with_filter_touches_only_matching(spark, tmp_path,
                                                   date_schema, date_pdf):
    import zcollection_spark as zc
    from pathlib import Path
    coll = zc.create_collection(
        spark, str(tmp_path / "cmpf"), schema=date_schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    bound = date_schema.with_partition_axis("time")
    sdf = spark.createDataFrame(date_pdf, schema=bound.to_struct_type())
    coll.insert(sdf)
    coll.insert(sdf.withColumn("v", sdf.v + 100), merge="concat")
    report = coll.compact(filters="month == 1")
    assert list(report) == ["year=2024/month=1"]
    jan = sum(1 for _ in Path(coll.path, "year=2024/month=1")
              .glob("*.parquet"))
    feb = sum(1 for _ in Path(coll.path, "year=2024/month=2")
              .glob("*.parquet"))
    assert jan == 1 and feb == 2


def test_to_view_sql_surface(spark, seq_collection):
    seq_collection.to_view("seq_v")
    got = spark.sql(
        "SELECT num, count(*) AS n FROM seq_v GROUP BY num ORDER BY num")
    assert [(r["num"], r["n"]) for r in got.collect()] == [
        (0, 2), (1, 2), (2, 3)]
    # pre-filtered view; empty filter registers an empty view (quirk Q6
    # stays on query(): the SQL surface prefers a relation to None)
    seq_collection.to_view("seq_v1", filters="num >= 1")
    assert spark.sql("SELECT count(*) AS n FROM seq_v1").first()["n"] == 5
    seq_collection.to_view("seq_v9", filters="num == 99")
    assert spark.sql("SELECT count(*) AS n FROM seq_v9").first()["n"] == 0


def test_add_variable_schema_evolution(spark, tmp_path, date_schema,
                                       date_pdf):
    coll = zc.create_collection(
        spark, str(tmp_path / "evo"), schema=date_schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    bound = date_schema.with_partition_axis("time")
    coll.insert(spark.createDataFrame(date_pdf,
                                      schema=bound.to_struct_type()))
    coll.add_variable("score", "float64", fill_value=-1.0)
    # old partitions read the fill
    out = coll.query().orderBy("time").toPandas()
    assert "score" in out.columns and (out["score"] == -1.0).all()
    # a new batch carries the column for real
    batch = date_pdf.assign(
        time=date_pdf["time"] + pd.Timedelta(days=120))
    batch["score"] = [10.0, 20.0, 30.0, 40.0, 50.0]
    coll.insert(spark.createDataFrame(batch))
    mixed = coll.query().orderBy("time").toPandas()
    assert sorted(mixed["score"].unique()) == [-1.0, 10.0, 20.0, 30.0,
                                               40.0, 50.0]
    # reopening sees the evolved schema; duplicate add rejected
    reopened = zc.open_collection(spark, coll.path, mode="rw")
    assert "score" in reopened.schema.variable_map
    with pytest.raises(zc.SchemaError, match="already exists"):
        reopened.add_variable("score", "float64")
    # inserts missing the evolved column are rejected (conform gate)
    with pytest.raises(zc.SchemaError, match="missing"):
        coll.insert(spark.createDataFrame(date_pdf,
                                          schema=bound.to_struct_type()))


def test_query_arrays_reference_shape(spark, seq_collection):
    arrays = seq_collection.query_arrays()
    assert set(arrays) == {"num", "value", "static"}
    assert arrays["num"].tolist() == [0, 0, 1, 1, 2, 2, 2]
    assert arrays["value"].shape == (7, 3)
    np.testing.assert_array_equal(
        np.asarray(arrays["value"], dtype=np.float32),
        np.arange(21, dtype=np.float32).reshape(7, 3))
    # projection + no-match parity
    only = seq_collection.query_arrays(variables=["num"],
                                       filters="num >= 1")
    assert set(only) == {"num"} and only["num"].tolist() == [1, 1, 2, 2, 2]
    assert seq_collection.query_arrays(filters="num == 99") is None


def test_merge_upsert_axis_is_partition_key(spark, seq_collection,
                                            seq_schema):
    """Sequence partitioning on the axis column itself: keys == (axis,).
    The upsert join keys must dedupe (a `select(num, num)` would throw
    COLUMN_ALREADY_EXISTS) — regression for the S3 suite's discovery."""
    bound = seq_schema.with_partition_axis("num")
    batch = spark.createDataFrame(
        pd.DataFrame({"num": np.array([1], dtype=np.int64),
                      "value": [[9.0, 9.0, 9.0]],
                      "static": [[10.0, 20.0, 30.0]]}),
        schema=bound.to_struct_type())
    seq_collection.insert(batch, merge="upsert")
    rows = seq_collection.query(filters="num == 1").collect()
    # both original num=1 rows collapse to the single upserted axis value
    assert [r["value"] for r in rows] == [[9.0, 9.0, 9.0]]
    assert seq_collection.query().count() == 6  # 7 - 2 + 1

    # tolerance mode on the same shape (exact-equality degenerate case)
    batch2 = spark.createDataFrame(
        pd.DataFrame({"num": np.array([2], dtype=np.int64),
                      "value": [[5.0, 5.0, 5.0]],
                      "static": [[10.0, 20.0, 30.0]]}),
        schema=bound.to_struct_type())
    seq_collection.insert(batch2, merge=zc.upsert_within(0.5))
    rows = seq_collection.query(filters="num == 2").collect()
    assert [r["value"] for r in rows] == [[5.0, 5.0, 5.0]]


def test_compact_min_files_skips_already_compact(spark, tmp_path,
                                                 date_schema, date_pdf):
    """Scheduled maintenance stays proportional to fragmentation: a
    partition already at one file is skipped entirely (no read, no
    rewrite, no publish)."""
    import zcollection_spark as zc
    from pathlib import Path
    coll = zc.create_collection(
        spark, str(tmp_path / "cmpm"), schema=date_schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    bound = date_schema.with_partition_axis("time")
    sdf = spark.createDataFrame(date_pdf, schema=bound.to_struct_type())
    coll.insert(sdf)
    coll.insert(sdf.where("month(time) = 1").withColumn(
        "v", sdf.v + 100), merge="concat")
    gen_before = coll.generation()
    report = coll.compact()                 # default min_files=2
    assert list(report) == ["year=2024/month=1"]
    # second run: nothing fragmented -> pure no-op, not even a commit
    gen_mid = coll.generation()
    assert coll.compact() == {}
    assert coll.generation() == gen_mid > gen_before
    # min_files=1 forces the full rewrite
    full = coll.compact(min_files=1)
    assert set(full) == set(coll.partitions())
    one = sum(1 for _ in Path(coll.path, "year=2024/month=2")
              .glob("*.parquet"))
    assert one == 1
