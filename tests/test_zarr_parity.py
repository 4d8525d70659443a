"""Layout behaviour suite: the parquet and the zarr layout are one
``Collection`` core over two storage layouts, so every collection
operation must give the same ``collect()`` on both.

The original zarr-parity tests keep their names and now run on both
layouts; the ``test_layouts_*`` cases pin the points where the two
layouts used to disagree (ordering, immutables seen by ``map``,
immutable types on the view path, ``update`` options, the root-config
rewrite of ``add_variable``, inserts missing a variable)."""

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

import zcollection_spark as zc
from zcollection_spark.zarr3.collection import (ZarrCollection,
                                                create_zarr_collection)

LAYOUTS = ("parquet", "zarr")


def _create(layout, spark, path, **kw):
    make = create_zarr_collection if layout == "zarr" \
        else zc.create_collection
    return make(spark, str(path), **kw)


def _both(spark, tmp_path, rows_pdf, schema, layouts=LAYOUTS, **kw):
    """One collection per layout, each holding ``rows_pdf``."""
    out = {}
    struct = schema.with_partition_axis(kw["axis"]).to_struct_type()
    for layout in layouts:
        coll = _create(layout, spark, tmp_path / layout, schema=schema, **kw)
        coll.insert(spark.createDataFrame(rows_pdf, schema=struct))
        out[layout] = coll
    return out


def _same(colls, fn):
    """``fn(coll)`` on every layout; the answers must agree."""
    got = {layout: fn(coll) for layout, coll in colls.items()}
    assert got["parquet"] == got["zarr"], got
    return got["zarr"]


def _rows(df, *cols):
    return None if df is None else [tuple(r) for r in df.select(*cols)
                                    .collect()]


@pytest.fixture()
def zdates(spark, tmp_path):
    pdf = pd.DataFrame({
        "time": pd.to_datetime(["2024-01-05", "2024-01-20", "2024-02-03",
                                "2024-02-15", "2024-03-01"]),
        "v": np.arange(5, dtype=np.float32)})
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("time", "datetime64[us]", ("time",))
              .add_variable("v", "float32", ("time",)).build("time"))
    return _both(spark, tmp_path, pdf, schema, axis="time",
                 partitioning=zc.Date(("time",), resolution="M"),
                 stats_columns=["v"])


def _result(coll):
    pdf = coll.query().toPandas()
    return list(zip(pdf["time"].dt.strftime("%Y-%m-%d"),
                    pdf["v"].astype(float)))


def _df(spark, times, values):
    pdf = pd.DataFrame({"time": pd.to_datetime(times),
                        "v": np.asarray(values, dtype=np.float32)})
    return spark.createDataFrame(pdf)


def test_zarr_merge_replace(spark, zdates):
    for coll in zdates.values():
        coll.insert(_df(spark, ["2024-02-10"], [42.0]))
    assert _same(zdates, _result) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0),
        ("2024-02-10", 42.0), ("2024-03-01", 4.0)]


def test_zarr_merge_upsert(spark, zdates):
    for coll in zdates.values():
        coll.insert(_df(spark, ["2024-02-15", "2024-04-10"], [99.0, 55.0]),
                    merge="upsert")
    assert _same(zdates, _result) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-03", 2.0),
        ("2024-02-15", 99.0), ("2024-03-01", 4.0), ("2024-04-10", 55.0)]


def test_zarr_merge_time_series(spark, zdates):
    for coll in zdates.values():
        coll.insert(_df(spark, ["2024-02-01", "2024-02-20"], [10.0, 20.0]),
                    merge="time_series")
    assert _same(zdates, _result) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-01", 10.0),
        ("2024-02-20", 20.0), ("2024-03-01", 4.0)]


def test_zarr_drop_partitions(spark, zdates):
    dropped = _same(zdates,
                    lambda c: c.drop_partitions(filters="month == 1"))
    assert dropped == ["year=2024/month=1"]
    assert _same(zdates, lambda c: c.partitions()) == [
        "year=2024/month=2", "year=2024/month=3"]
    assert _same(zdates, _result)[0] == ("2024-02-03", 2.0)


def test_zarr_map(spark, zdates):
    def stats(pdf):
        return pd.DataFrame({"month": [int(pdf["month"].iloc[0])],
                             "n": [len(pdf)]})

    assert _same(zdates, lambda c: sorted(
        (r["month"], r["n"])
        for r in c.map(stats, "month long, n long").collect())) == [
        (1, 2), (2, 2), (3, 1)]


@pytest.fixture()
def zstatic(spark, tmp_path):
    """Both layouts over a schema with a float32 immutable ``static``."""
    pdf = pd.DataFrame({
        "num": np.array([0, 0, 1], dtype=np.int64),
        "value": np.array([1.0, 2.0, 3.0], dtype=np.float32),
        "static": [[10.0, 20.0, 30.0]] * 3})
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_dimension("x", size=3)
              .add_variable("num", "int64", ("num",))
              .add_variable("value", "float32", ("num",))
              .add_variable("static", "float32", ("x",)).build("num"))
    return _both(spark, tmp_path, pdf, schema, axis="num",
                 partitioning=zc.Sequence(("num",)))


def test_zarr_immutable_attach(spark, zstatic):
    def statics(coll):
        out = coll.query().toPandas()
        return [list(row) for row in out["static"]]

    assert _same(zstatic, statics) == [[10.0, 20.0, 30.0]] * 3


def test_zarr_update(spark, zdates):
    def double(pdf):
        pdf = pdf.copy()
        pdf["v"] = pdf["v"] * 2.0
        return pdf

    assert _same(zdates, lambda c: c.update(double, filters="month == 2")
                 ) == ["year=2024/month=2"]
    assert _same(zdates, _result) == [
        ("2024-01-05", 0.0), ("2024-01-20", 1.0), ("2024-02-03", 4.0),
        ("2024-02-15", 6.0), ("2024-03-01", 4.0)]


def test_zarr_string_upsert_merge(spark, tmp_path):
    """Merge strategies work over string-bearing collections."""
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("txt", "str", ("num",)).build("num"))
    base = pd.DataFrame({"num": np.array([1, 2, 3], dtype=np.int64),
                         "txt": ["one", "two", "three"]})
    colls = _both(spark, tmp_path, base, schema, axis="num",
                  partitioning=zc.GroupedSequence(("num",), size=10))
    batch = pd.DataFrame({"num": np.array([2, 4], dtype=np.int64),
                          "txt": ["TWO", "four"]})
    for coll in colls.values():
        coll.insert(spark.createDataFrame(batch,
                                          schema=schema.to_struct_type()),
                    merge="upsert")
    assert _same(colls, lambda c: {r["num"]: r["txt"]
                                   for r in c.query().collect()}) == {
        1: "one", 2: "TWO", 3: "three", 4: "four"}


def test_zarr_columns_substring_of_partition_key(spark, tmp_path):
    """A requested column whose name CONTAINS a partition key as a
    substring ('year_total' vs derived key 'year') must not drag the key
    into the reader schema (regression: the schema built the wanted-set
    test on the raw comma-joined option string)."""
    pdf = pd.DataFrame({
        "time": pd.to_datetime(["2024-01-05", "2024-02-03"]),
        "year_total": np.array([1.0, 2.0], dtype=np.float32)})
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("time", "datetime64[us]", ("time",))
              .add_variable("year_total", "float32", ("time",))
              .build("time"))
    coll = create_zarr_collection(
        spark, str(tmp_path / "zy"), schema=schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))
    coll.insert(spark.createDataFrame(
        pdf, schema=schema.with_partition_axis("time").to_struct_type()))
    df = (spark.read.format("zarr3")
          .option("path", str(tmp_path / "zy"))
          .option("columns", "year_total").load())
    assert df.columns == ["year_total"]
    assert sorted(r["year_total"] for r in df.collect()) == [1.0, 2.0]


# -- the core's operations agree across layouts -----------------------------

def test_layouts_query_and_where_agree(spark, zdates):
    assert _same(zdates, lambda c: sorted(_rows(
        c.query(filters="month >= 2", where="v > 2.5", variables=["v"]),
        "v"))) == [(3.0,), (4.0,)]
    assert _same(zdates, lambda c: _rows(
        c.query(where="v >= 1.0 and v < 3.0"), "time", "v"))[0][1] == 1.0
    # zone maps prune every partition: no scan at all on either layout
    assert _same(zdates, lambda c: c.query(where="v > 100.0")) is None
    assert _same(zdates, lambda c: sorted(_rows(
        c.query(variables=["v"], nested=True), "v"))) == [
        (0.0,), (1.0,), (2.0,), (3.0,), (4.0,)]


def test_layouts_time_travel_agree(spark, zdates):
    g0 = _same(zdates, lambda c: c.generation())
    for coll in zdates.values():
        coll.insert(_df(spark, ["2024-05-02"], [7.0]))
    assert _same(zdates, lambda c: _rows(
        c.query(at_generation=g0), "v")) == [
        (0.0,), (1.0,), (2.0,), (3.0,), (4.0,)]
    assert _same(zdates, lambda c: c.partitions(at_generation=g0)) == [
        "year=2024/month=1", "year=2024/month=2", "year=2024/month=3"]
    assert _same(zdates, lambda c: c.changes(g0))["added"] == [
        "year=2024/month=5"]


def test_layouts_pin_unpin_agree(spark, zdates):
    g0 = _same(zdates, lambda c: c.generation())
    assert _same(zdates, lambda c: c.pin_generation(g0)) == [g0]
    for coll in zdates.values():
        coll.insert(_df(spark, ["2024-01-07"], [9.0]), merge="upsert")
    assert _same(zdates, lambda c: c.stale_partitions(g0)) == []
    assert _same(zdates, lambda c: _rows(
        c.query(at_generation=g0, filters="month == 1"), "v")) == [
        (0.0,), (1.0,)]
    assert _same(zdates, lambda c: c.unpin_generation(g0)) == []
    assert _same(zdates, lambda c: c.pinned_generations()) == []


# -- drifts reconciled onto the core's behaviour ----------------------------

def test_layouts_order_by_partition_keys_then_axis(spark, tmp_path):
    """Ordered queries sort by partition key, then axis (zarr used to
    sort by the axis alone)."""
    pdf = pd.DataFrame({
        "cycle": np.array([2, 2, 1, 1], dtype=np.int64),
        "time": pd.to_datetime(["2024-01-01", "2024-01-02",
                                "2024-01-03", "2024-01-04"])})
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("cycle", "int64", ("time",))
              .add_variable("time", "datetime64[us]", ("time",))
              .build("time"))
    colls = _both(spark, tmp_path, pdf, schema, axis="time",
                  partitioning=zc.Sequence(("cycle",)))
    got = _same(colls, lambda c: [
        (r.cycle, r.time.strftime("%m-%d")) for r in c.query().collect()])
    assert got == [(1, "01-03"), (1, "01-04"), (2, "01-01"), (2, "01-02")]


def test_layouts_map_sees_immutables(spark, zstatic):
    def columns(pdf):
        return pd.DataFrame({"cols": [",".join(sorted(pdf.columns))]})

    assert _same(zstatic, lambda c: sorted(
        r.cols for r in c.map(columns, "cols string").collect())) == [
        "num,static,value"] * 2


def test_layouts_view_immutable_keeps_declared_type(spark, tmp_path,
                                                    zstatic):
    """A float32 immutable attached on the view path is array<float>, the
    type ``query()`` gives (zarr used to attach array<double>)."""
    from zcollection_spark.view import View
    want = T.ArrayType(T.FloatType())

    def view_type(coll):
        assert coll.query().schema["static"].dataType == want
        view = View.create(spark, str(tmp_path / type(coll).__name__),
                           base=coll,
                           variables=[{"name": "w", "dtype": "float64"}])
        return view.query().schema["static"].dataType

    assert _same(zstatic, view_type) == want


def test_layouts_update_allow_variable_drop(spark, tmp_path):
    """``update(variables=, allow_variable_drop=True)`` on both layouts:
    a dropped variable reads back as null (zarr raised TypeError)."""
    pdf = pd.DataFrame({"num": np.array([0, 0, 1], dtype=np.int64),
                        "i": np.arange(3, dtype=np.int64),
                        "v": np.array([1.0, 2.0, 3.0]),
                        "w": np.array([5.0, 6.0, 7.0])})
    schema = (zc.SchemaBuilder().add_dimension("i")
              .add_variable("num", "int64", ("i",))
              .add_variable("i", "int64", ("i",))
              .add_variable("v", "float64", ("i",))
              .add_variable("w", "float64", ("i",)).build("i"))
    colls = _both(spark, tmp_path, pdf, schema, axis="i",
                  partitioning=zc.Sequence(("num",)))

    def halve(part):
        return part.assign(v=part["v"] / 2)[["num", "i", "v"]]

    for coll in colls.values():
        with pytest.raises(zc.SchemaError, match="allow_variable_drop"):
            coll.update(halve, variables=["i", "v"])
    assert _same(colls, lambda c: c.update(
        halve, filters="num == 0", variables=["i", "v"],
        allow_variable_drop=True)) == ["num=0"]
    assert _same(colls, lambda c: _rows(c.query(), "i", "v", "w")) == [
        (0, 0.5, None), (1, 1.0, None), (2, 3.0, 7.0)]


@pytest.mark.parametrize("layout", LAYOUTS)
def test_layouts_add_variable_keeps_root_config(spark, tmp_path, layout):
    """The ``add_variable`` root-config rewrite keeps ``stats_columns``
    and ``data_format``: after a reopen ``where`` still prunes (zarr used
    to drop them, silently turning pruning off)."""
    pdf = pd.DataFrame({"i": np.arange(4, dtype=np.int64),
                        "v": np.array([1.0, 2.0, 30.0, 40.0]),
                        "num": np.array([0, 0, 1, 1], dtype=np.int64)})
    schema = (zc.SchemaBuilder().add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("v", "float64", ("i",))
              .add_variable("num", "int64", ("i",)).build("i"))
    coll = _both(spark, tmp_path, pdf, schema, layouts=(layout,), axis="i",
                 partitioning=zc.Sequence(("num",)),
                 stats_columns=["v"])[layout]
    coll.add_variable("q", "float64", fill_value=-1.0)
    doc = json.loads((Path(coll.path) / "_zcollection.json").read_text())
    assert doc.get("data_format") == ("zarr3" if layout == "zarr" else None)
    assert doc["stats_columns"] == ["v"]
    reopened = zc.open_collection(spark, coll.path)
    assert type(reopened) is type(coll)
    assert reopened.stats_columns == ["v"]
    assert reopened.query(where="v > 100.0") is None
    assert _rows(reopened.query(where="v > 10.0"), "i", "q") == [
        (2, -1.0), (3, -1.0)]


def test_layouts_insert_missing_variable_publishes_nothing(spark, zdates):
    """An insert without a partitioned variable raises SchemaError before
    anything is written; the collection still reads (zarr used to publish
    the partition and then fail every full query)."""
    df = spark.createDataFrame(
        pd.DataFrame({"time": pd.to_datetime(["2024-07-01"])}))
    for coll in zdates.values():
        generation, before = coll.generation(), _result(coll)
        with pytest.raises(zc.SchemaError, match="missing"):
            coll.insert(df)
        assert coll.generation() == generation
        assert "year=2024/month=7" not in coll.partitions()
        assert _result(coll) == before


def test_open_collection_dispatches_on_data_format(spark, zdates):
    """``zc.open_collection`` on a zarr root returns the zarr layout
    (read-only unless asked), and it reads like the parquet twin."""
    coll = zc.open_collection(spark, zdates["zarr"].path)
    assert isinstance(coll, ZarrCollection) and coll.mode == "r"
    with pytest.raises(zc.ReadOnlyError):
        coll.drop_partitions()
    parquet = zc.open_collection(spark, zdates["parquet"].path)
    assert type(parquet) is zc.Collection
    assert _same({"parquet": parquet, "zarr": coll}, _result)[0] == (
        "2024-01-05", 0.0)
