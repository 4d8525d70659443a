"""Zarr v3 core + datasource + collection tests."""

import json
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.zarr3.core import read_array, write_array
from zcollection_spark.zarr3.collection import (create_zarr_collection,
                                                open_zarr_collection)


# -- core ------------------------------------------------------------------

def test_core_roundtrip_2d_zstd(tmp_path):
    data = np.arange(1000, dtype=np.float32).reshape(100, 10)
    write_array(tmp_path / "a", data, chunk_shape=(30, 10))
    np.testing.assert_array_equal(read_array(tmp_path / "a"), data)
    doc = json.loads((tmp_path / "a" / "zarr.json").read_text())
    assert doc["zarr_format"] == 3 and doc["node_type"] == "array"
    assert doc["codecs"][0]["name"] == "bytes"
    assert doc["codecs"][1]["name"] == "zstd"
    # edge chunks stored full-size: 100 rows / 30-chunk → 4 chunk files
    assert len(list((tmp_path / "a" / "c").rglob("*"))) >= 4


def test_core_roundtrip_datetime(tmp_path):
    data = np.array(["2024-01-01T00:00:00.123456", "2024-02-03T04:05:06"],
                    dtype="datetime64[us]")
    write_array(tmp_path / "t", data)
    got = read_array(tmp_path / "t")
    assert got.dtype == np.dtype("datetime64[us]")
    np.testing.assert_array_equal(got, data)


def test_core_gzip_and_edge_chunks(tmp_path):
    data = np.arange(17, dtype=np.int64)
    write_array(tmp_path / "i", data, chunk_shape=(5,), codec="gzip")
    np.testing.assert_array_equal(read_array(tmp_path / "i"), data)


def test_core_missing_chunk_is_fill(tmp_path):
    data = np.arange(10, dtype=np.int32)
    write_array(tmp_path / "f", data, chunk_shape=(5,), fill_value=-1)
    # delete the second chunk → reads as fill
    (tmp_path / "f" / "c" / "1").unlink()
    got = read_array(tmp_path / "f")
    np.testing.assert_array_equal(got[:5], data[:5])
    assert (got[5:] == -1).all()


# -- collection through the datasource ------------------------------------

@pytest.fixture()
def zarr_events(spark, tmp_path):
    from zcollection_spark.data import load_table
    from zcollection_spark.schema import infer_schema
    ev = load_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "ts", "value")
    coll = create_zarr_collection(
        spark, str(tmp_path / "z"),
        schema=infer_schema(ev.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"))
    coll.insert(ev)
    return coll


def test_zarr_collection_roundtrip(spark, zarr_events):
    assert len(zarr_events.partitions()) == 30
    assert zarr_events.query().count() == 1000


def test_zarr_pruned_query(spark, zarr_events):
    df = zarr_events.query(filters="day in (3, 4, 5)")
    days = {r["d"] for r in
            df.selectExpr("day(ts) AS d").distinct().collect()}
    assert days == {3, 4, 5}


def test_zarr_projection(spark, zarr_events):
    df = zarr_events.query(variables=["event_id"])
    assert df.columns == ["event_id"]
    assert df.count() == 1000


def test_zarr_no_match_returns_none(spark, zarr_events):
    assert zarr_events.query(filters="day == 99") is None


def test_zarr_plan_cache_sees_new_inserts(spark, zarr_events):
    """The base-scan plan cache is keyed on the catalog generation:
    a query AFTER an insert must read the new partitions, not the
    cached pre-insert plan."""
    import pandas as pd
    before = zarr_events.query().count()
    assert zarr_events.to_df() is zarr_events.to_df()  # cache hit
    pdf = pd.DataFrame({
        "event_id": np.arange(3, dtype=np.int64) + 10_000_000,
        "ts": pd.to_datetime(["2025-06-01T01:00"] * 3).astype(
            "datetime64[us]"),
        "value": np.array([1.0, 2.0, 3.0])})
    schema = zarr_events.schema.with_partition_axis("ts")
    zarr_events.insert(spark.createDataFrame(
        pdf, schema=schema.to_struct_type()))
    assert zarr_events.query().count() == before + 3
    assert zarr_events.query(filters="year == 2025").count() == 3


def _seq_collections(spark, tmp_path):
    """A parquet and a zarr collection over the same Sequence("num")
    schema, each holding nums [0, 1, 1, 3]."""
    schema = (zc.SchemaBuilder().add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    out = [zc.create_collection(spark, str(tmp_path / "p"), schema=schema,
                                axis="i", partitioning=zc.Sequence(("num",))),
           create_zarr_collection(spark, str(tmp_path / "z"), schema=schema,
                                  axis="i",
                                  partitioning=zc.Sequence(("num",)))]
    for coll in out:
        _insert_nums(spark, coll, [0, 1, 1, 3], first_i=0)
    return out


def _insert_nums(spark, coll, nums, first_i):
    pdf = pd.DataFrame({
        "i": np.arange(len(nums), dtype=np.int64) + first_i,
        "num": np.array(nums, dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))


def test_zarr_query_reads_resolved_partitions_on_every_action(spark,
                                                              tmp_path):
    """One query() DataFrame reads exactly the partition set query()
    resolved, whatever is committed before each action — the parquet
    layout's contract, and now the zarr layout's."""
    for coll in _seq_collections(spark, tmp_path):
        df = coll.query(filters="num >= 1")
        _insert_nums(spark, coll, [2, 2, 2], first_i=100)
        assert df.count() == 3
        assert sorted(r.num for r in df.collect()) == [1, 1, 3]
        assert sorted(df.toPandas()["num"]) == [1, 1, 3]
        assert coll.query(filters="num >= 1").count() == 6


def test_zarr_pruned_query_one_task_per_partition(spark, zarr_events):
    """A pruned query scans its resolved partitions directly: no
    Python-DataSource ``BatchScan`` in the executed plan, and the scan
    job runs exactly one task per resolved partition."""
    import uuid
    filters = "day in (3, 4, 5) or day == 9"
    resolved = zarr_events.partitions(filters=filters)
    assert len(resolved) == 4
    df = zarr_events.query(filters=filters, ordered=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan and "PythonDataSource" not in plan, plan
    assert "MapInArrow" in plan, plan
    sc = spark.sparkContext
    group = f"zarr-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(tracker.getStageInfo(sid).numTasks
                for jid in jobs
                for sid in tracker.getJobInfo(jid).stageIds)
    assert len(jobs) == 1 and tasks == len(resolved)
    days = {r["ts"].day for r in rows}
    assert days == {3, 4, 5, 9}


def test_zarr_single_partition_ordered_no_exchange(spark, zarr_events):
    """A pruned one-partition ordered query sorts within the single
    reader task — no orderBy Exchange in the executed plan — and still
    returns axis-ordered rows."""
    df = zarr_events.query(filters="day == 5")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    ts = [r["ts"] for r in df.select("ts").collect()]
    assert ts == sorted(ts) and len(ts) > 0


def test_zarr_values_match_parquet_source(spark, zarr_events):
    from zcollection_spark.data import load_table
    src = (load_table(spark, "/root/testdata/sf0.001", "events")
           .select("event_id", "ts", "value").orderBy("event_id"))
    got = zarr_events.query().orderBy("event_id")
    assert [tuple(r) for r in got.collect()] == \
           [tuple(r) for r in src.collect()]


def test_zarr_reopen(spark, zarr_events):
    coll = open_zarr_collection(spark, zarr_events.path)
    assert len(coll.partitions()) == 30
    # partition group attrs carry the stamped key
    doc = json.loads((Path(zarr_events.path) / coll.partitions()[0]
                      / "zarr.json").read_text())
    key = json.loads(doc["attributes"]["_zc_partition_key"])
    assert key == {"year": 2024, "month": 1, "day": 1}


def test_zarr_rejects_bytes_schema(spark, tmp_path):
    # strings are supported (vlen-utf8); raw bytes still are not
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "int64", ("t",))
              .add_variable("b", "bytes", ("t",)).build())
    with pytest.raises(zc.SchemaError, match="bytes"):
        create_zarr_collection(spark, str(tmp_path / "zb"), schema=schema,
                               axis="t", partitioning=zc.Sequence(("t",)))


def test_zarr_2d_variable(spark, tmp_path):
    pdf = pd.DataFrame({
        "num": np.array([0, 0, 1, 1, 2, 2, 2], dtype=np.int64),
        "value": [list(r) for r in
                  np.arange(21, dtype=np.float32).reshape(7, 3)]})
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_dimension("x", size=3)
              .add_variable("num", "int64", ("num",))
              .add_variable("value", "float32", ("num", "x"))
              .build("num"))
    coll = create_zarr_collection(spark, str(tmp_path / "z2"),
                                  schema=schema, axis="num",
                                  partitioning=zc.Sequence(("num",)))
    coll.insert(spark.createDataFrame(pdf, schema=schema.to_struct_type()))
    out = coll.query().toPandas()
    got = np.array(out["value"].tolist(), dtype=np.float32)
    np.testing.assert_array_equal(
        got, np.arange(21, dtype=np.float32).reshape(7, 3))


# -- sharding_indexed codec ------------------------------------------------

def test_sharded_roundtrip_1d(tmp_path):
    from zcollection_spark.zarr3.core import ZarrArrayMeta
    data = np.arange(1000, dtype=np.int64)
    write_array(tmp_path / "s", data, chunk_shape=(100,), shard_shape=(400,))
    np.testing.assert_array_equal(read_array(tmp_path / "s"), data)
    doc = json.loads((tmp_path / "s" / "zarr.json").read_text())
    assert doc["codecs"][0]["name"] == "sharding_indexed"
    cfg = doc["codecs"][0]["configuration"]
    assert cfg["chunk_shape"] == [100] and cfg["index_location"] == "end"
    assert doc["chunk_grid"]["configuration"]["chunk_shape"] == [400]
    # 1000 rows / 400-row shards -> 3 shard files (not 10 chunk files)
    assert len(list((tmp_path / "s" / "c").rglob("*"))) == 3
    meta = ZarrArrayMeta.from_document(doc)
    assert meta.shard_shape == (400,) and meta.chunk_shape == (100,)


def test_sharded_roundtrip_2d_edge(tmp_path):
    data = np.arange(37 * 7, dtype=np.float64).reshape(37, 7)
    write_array(tmp_path / "s2", data, chunk_shape=(10, 7),
                shard_shape=(20, 7))
    np.testing.assert_array_equal(read_array(tmp_path / "s2"), data)


def test_sharded_datetime_and_gzip(tmp_path):
    data = np.array(["2024-01-01", "2024-06-01", "2025-01-01"],
                    dtype="datetime64[us]")
    write_array(tmp_path / "t", data, chunk_shape=(1,), shard_shape=(2,),
                codec="gzip")
    got = read_array(tmp_path / "t")
    assert got.dtype == np.dtype("datetime64[us]")
    np.testing.assert_array_equal(got, data)


def test_shard_shape_rounded_to_chunk_multiple(tmp_path):
    data = np.arange(50, dtype=np.int32)
    # 25 is not a multiple of 10 -> writer rounds the shard up to 30
    write_array(tmp_path / "r", data, chunk_shape=(10,), shard_shape=(25,))
    doc = json.loads((tmp_path / "r" / "zarr.json").read_text())
    assert doc["chunk_grid"]["configuration"]["chunk_shape"] == [30]
    np.testing.assert_array_equal(read_array(tmp_path / "r"), data)


def test_missing_shard_is_fill(tmp_path):
    data = np.arange(8, dtype=np.int16)
    write_array(tmp_path / "m", data, chunk_shape=(2,), shard_shape=(4,),
                fill_value=-9)
    (tmp_path / "m" / "c" / "1").unlink()
    got = read_array(tmp_path / "m")
    np.testing.assert_array_equal(got[:4], data[:4])
    assert (got[4:] == -9).all()


def test_shard_decision_semantics():
    from zcollection_spark.zarr3.sharding import (compute_shard_shape,
                                                  shard_decision)
    i64 = np.dtype("int64")
    # grows by doubling the largest dim, stays <= target
    got = compute_shard_shape((100,), (100000,), i64, 6400)
    assert got == (800,)          # 100*8 rows * 8 B = 6400 <= target
    # inner chunk already >= target -> clipped chunk unchanged
    assert compute_shard_shape((100,), (100000,), i64, 100) == (100,)
    # disabled or no growth -> None
    assert shard_decision((100,), (100000,), i64, None) is None
    assert shard_decision((100,), (100,), i64, 1 << 30) is None
    assert shard_decision((100,), (100000,), i64, 6400) == (800,)
    # rank mismatch raises
    with pytest.raises(ValueError):
        compute_shard_shape((10, 10), (100,), i64, 1 << 20)


def test_zarr_collection_sharded_profile(spark, tmp_path):
    """A profile with a shard budget -> sharded arrays on disk (fewer
    store objects), identical query results."""
    from zcollection_spark import config as zconfig
    from zcollection_spark.data import load_table
    from zcollection_spark.schema import SchemaBuilder
    ev = load_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "ts", "value")
    # small inner chunks so the shard policy has room to grow: 25-row
    # chunks of int64/float64 = 200 B; a 1600 B budget -> 200-row shards
    schema = (SchemaBuilder()
              .add_dimension("ts", chunks=25)
              .add_variable("event_id", "int64", ("ts",))
              .add_variable("ts", "datetime64[us]", ("ts",))
              .add_variable("value", "float64", ("ts",))
              .build("ts"))
    zconfig.PROFILES["test-shard"] = zconfig.CodecProfile(
        "test-shard", "zstd", 3, 1600)
    try:
        with zconfig.override(**{"codec.profile": "test-shard"}):
            coll = create_zarr_collection(
                spark, str(tmp_path / "zc"), schema=schema, axis="ts",
                partitioning=zc.Date(("ts",), resolution="M"))
            coll.insert(ev)
    finally:
        del zconfig.PROFILES["test-shard"]
    docs = [json.loads(p.read_text())
            for p in Path(tmp_path / "zc").rglob("zarr.json")
            if json.loads(p.read_text()).get("node_type") == "array"]
    assert docs, "no arrays written"
    sharded = [d for d in docs
               if d["codecs"][0]["name"] == "sharding_indexed"]
    assert sharded, "shard budget should have produced sharded arrays"
    for doc in sharded:
        inner = doc["codecs"][0]["configuration"]["chunk_shape"]
        outer = doc["chunk_grid"]["configuration"]["chunk_shape"]
        assert all(o % i == 0 for o, i in zip(outer, inner))
    got = coll.query().orderBy("event_id")
    pd.testing.assert_frame_equal(
        got.toPandas(),
        ev.orderBy("event_id").select(*got.columns).toPandas())


# -- partial (row-range) reads --------------------------------------------

def test_slice_read_unsharded(tmp_path):
    from zcollection_spark.zarr3.core import read_array_slice
    data = np.arange(1000, dtype=np.int64)
    write_array(tmp_path / "a", data, chunk_shape=(64,))
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "a", 100, 300), data[100:300])
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "a", 0, 1), data[:1])
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "a", 990, 5000), data[990:])
    assert len(read_array_slice(tmp_path / "a", 400, 400)) == 0


def test_slice_read_sharded_locality(tmp_path):
    from zcollection_spark.zarr3.core import read_array_slice
    data = np.arange(1000, dtype=np.float64)
    write_array(tmp_path / "s", data, chunk_shape=(50,), shard_shape=(200,))
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "s", 130, 470), data[130:470])
    # locality proof: vandalize a shard the range never touches
    (tmp_path / "s" / "c" / "4").write_bytes(b"garbage")
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "s", 0, 399), data[0:399])


def test_slice_read_sharded_2d(tmp_path):
    from zcollection_spark.zarr3.core import read_array_slice
    data = np.arange(300 * 5, dtype=np.int32).reshape(300, 5)
    write_array(tmp_path / "s2", data, chunk_shape=(32, 5),
                shard_shape=(64, 5))
    np.testing.assert_array_equal(
        read_array_slice(tmp_path / "s2", 60, 200), data[60:200])


def test_slice_read_datetime(tmp_path):
    from zcollection_spark.zarr3.core import read_array_slice
    data = (np.datetime64("2024-01-01", "us")
            + np.arange(100) * np.timedelta64(3600, "s"))
    write_array(tmp_path / "t", data, chunk_shape=(16,), shard_shape=(32,))
    got = read_array_slice(tmp_path / "t", 10, 40)
    assert got.dtype == np.dtype("datetime64[us]")
    np.testing.assert_array_equal(got, data[10:40])


def test_read_row_ranges_partial(spark, zarr_events):
    """Indexer.lookup-shaped spans decode only the requested rows."""
    rels = zarr_events.partitions()
    ranges = {rels[0]: [(5, 15), (20, 22)], rels[2]: [(0, 3)]}
    got = zarr_events.read_row_ranges(ranges)
    assert got.count() == 10 + 2 + 3
    # values equal the ordered-query slices of those partitions
    full0 = (zarr_events.query(filters="day == 1")
             .orderBy("ts").toPandas())
    part = (got.orderBy("ts").toPandas())
    want_ids = set(full0["event_id"].iloc[5:15]) \
        | set(full0["event_id"].iloc[20:22])
    full2 = (zarr_events.query(filters="day == 3")
             .orderBy("ts").toPandas())
    want_ids |= set(full2["event_id"].iloc[0:3])
    assert set(part["event_id"]) == want_ids


def test_read_row_ranges_projection_and_empty(spark, zarr_events):
    rels = zarr_events.partitions()
    got = zarr_events.read_row_ranges({rels[0]: [(0, 4)]},
                                      variables=["event_id"])
    assert got.columns == ["event_id"] and got.count() == 4
    empty = zarr_events.read_row_ranges({})
    assert empty.count() == 0


def test_datasource_write_path(spark, tmp_path):
    """Raw ``df.write.format("zarr3")`` writer: keys derived in-task,
    groups written, catalog committed, reads round-trip."""
    from zcollection_spark.data import load_table
    from zcollection_spark.schema import infer_schema
    ev = load_table(spark, "/root/testdata/sf0.001", "events") \
        .select("event_id", "ts", "value")
    coll = create_zarr_collection(
        spark, str(tmp_path / "dsw"),
        schema=infer_schema(ev.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"))
    (ev.repartition("ts")
     .write.format("zarr3").option("path", coll.path)
     .mode("append").save())
    reopened = open_zarr_collection(spark, coll.path)
    assert len(reopened.partitions()) == 30  # catalog committed
    got = reopened.query().orderBy("event_id")
    src = ev.orderBy("event_id")
    assert [tuple(r) for r in got.select("event_id", "value").collect()] \
        == [tuple(r) for r in src.select("event_id", "value").collect()]


def test_zarr_nested_group_variable(spark, tmp_path):
    """Nested-group variables (path names) get intermediate v3 group
    docs and round-trip through the datasource."""
    pdf = pd.DataFrame({
        "num": np.array([0, 0, 1], dtype=np.int64),
        "data_01/ku/power": np.array([1.5, 2.5, 3.5], dtype=np.float64)})
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_group("data_01/ku")
              .add_variable("num", "int64", ("num",))
              .add_variable("data_01/ku/power", "float64", ("num",))
              .build("num"))
    coll = create_zarr_collection(spark, str(tmp_path / "zn"),
                                  schema=schema, axis="num",
                                  partitioning=zc.Sequence(("num",)))
    coll.insert(spark.createDataFrame(pdf, schema=schema.to_struct_type()))
    # intermediate groups carry zarr.json group documents (v3 spec)
    for rel in ("data_01", "data_01/ku"):
        doc = json.loads(
            (Path(coll.path) / "num=0" / rel / "zarr.json").read_text())
        assert doc["node_type"] == "group"
    out = coll.query().orderBy("num").toPandas()
    assert out["data_01/ku/power"].tolist() == [1.5, 2.5, 3.5]
    # struct view parity with the parquet layout (r16)
    nested = coll.query(nested=True)
    assert nested.columns == ["num", "data_01"]
    rows = (nested.select("num", "data_01.ku.power")
            .orderBy("num", "power").collect())
    assert [r["power"] for r in rows] == [1.5, 2.5, 3.5]


def test_zarr_add_variable_evolution(spark, zarr_events):
    from zcollection_spark.zarr3.collection import open_zarr_collection
    zarr_events.add_variable("quality", "float64", fill_value=-5.0)
    out = zarr_events.query(filters="day in (1, 2)").toPandas()
    assert "quality" in out.columns and (out["quality"] == -5.0).all()
    # reopen sees the evolved schema; fill required on zarr
    reopened = open_zarr_collection(spark, zarr_events.path)
    assert "quality" in reopened.schema.variable_map
    with pytest.raises(zc.SchemaError, match="fill_value"):
        reopened.add_variable("other", "float64")


def test_zarr_string_variables(spark, tmp_path):
    """String columns live in zarr as v3 "string" arrays (vlen-utf8) —
    the documents table round-trips through the zarr layout."""
    from zcollection_spark.data import load_table
    from zcollection_spark.schema import infer_schema
    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text", "lang")
    schema = infer_schema(docs.schema, axis="doc_id")
    coll = create_zarr_collection(
        spark, str(tmp_path / "zs"), schema=schema, axis="doc_id",
        partitioning=zc.GroupedSequence(("doc_id",), size=25))
    coll.insert(docs)
    got = coll.query().orderBy("doc_id").toPandas()
    want = docs.orderBy("doc_id").toPandas()
    assert got["text"].tolist() == want["text"].tolist()
    assert got["lang"].tolist() == want["lang"].tolist()
    # on-disk metadata is the spec's string data type
    array_doc = json.loads(next(
        Path(coll.path).rglob("text/zarr.json")).read_text())
    assert array_doc["data_type"] == "string"
    assert array_doc["codecs"][0]["name"] == "vlen-utf8"


def test_corrupt_shard_fails_loudly(tmp_path):
    data = np.arange(100, dtype=np.int64)
    write_array(tmp_path / "c", data, chunk_shape=(10,), shard_shape=(40,))
    # truncate a shard below its index size -> clean error, not garbage
    shard = tmp_path / "c" / "c" / "0"
    shard.write_bytes(shard.read_bytes()[:10])
    with pytest.raises(ValueError, match="corrupt shard"):
        read_array(tmp_path / "c")
    # index pointing past the payload also detected
    write_array(tmp_path / "c2", data, chunk_shape=(10,), shard_shape=(40,))
    shard2 = tmp_path / "c2" / "c" / "0"
    raw = bytearray(shard2.read_bytes())
    raw[-16:-8] = (1 << 40).to_bytes(8, "little")  # bogus offset
    shard2.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="corrupt shard"):
        read_array(tmp_path / "c2")


def test_truncated_shard_fails_the_partial_read_naming_it(tmp_path):
    """The ranged-read path (``read_array_slice``) checks a shard as
    ``read_array`` does: a shard cut below its index, and an index that
    points past the end of its shard, both raise naming the shard."""
    from zcollection_spark.errors import StoreError
    from zcollection_spark.zarr3.core import _crc32c, read_array_slice
    data = np.arange(400, dtype=np.int64)
    write_array(tmp_path / "s", data, chunk_shape=(50,), shard_shape=(200,))
    shard = tmp_path / "s" / "c" / "0"
    raw = shard.read_bytes()
    shard.write_bytes(raw[:40])          # shorter than its 68-byte index
    with pytest.raises(ValueError, match=f"corrupt shard {shard}: shorter"):
        read_array_slice(tmp_path / "s", 0, 10)
    # an intact, checksummed index whose last chunk runs past the end
    index = np.frombuffer(raw[-68:-4], dtype="<u8").reshape(4, 2).copy()
    index[3] = (len(raw) - 8, 1000)
    forged = index.tobytes()
    shard.write_bytes(raw[:-68] + forged
                      + _crc32c(forged).to_bytes(4, "little"))
    with pytest.raises(StoreError, match=f"{shard} is truncated"):
        read_array_slice(tmp_path / "s", 150, 200)
    np.testing.assert_array_equal(read_array_slice(tmp_path / "s", 0, 10),
                                  data[:10])


def test_zarr_collection_on_memory_store_fails_at_create(spark):
    """``memory://`` lives in the driver's process; zarr partitions are
    written by Spark tasks in other processes, so the create refuses
    before writing anything."""
    from zcollection_spark.errors import StoreError
    from zcollection_spark.fs import fs_for
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .build("num"))
    with pytest.raises(StoreError, match="memory://"):
        create_zarr_collection(spark, "memory://zarr-refused/c",
                               schema=schema, axis="num",
                               partitioning=zc.Sequence(("num",)))
    assert not fs_for("memory://zarr-refused").exists(
        "memory://zarr-refused/c")


# -- nulls in variables zarr cannot store as null ---------------------------

_NULLABLE = [("int64", "long", -1, 7),
             ("bool", "boolean", True, False),
             ("str", "string", "n/a", "x")]


def _null_coll(spark, path, dtype, fill):
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("v", dtype, ("i",), fill_value=fill)
              .add_variable("num", "int64", ("i",))
              .build())
    return create_zarr_collection(spark, path, schema=schema, axis="i",
                                  partitioning=zc.Sequence(("num",)))


@pytest.mark.parametrize("dtype,ddl,fill,value", _NULLABLE)
def test_zarr_null_written_as_declared_fill(spark, tmp_path, dtype, ddl,
                                            fill, value):
    """A null in an integer, bool or string variable is stored as the
    variable's declared fill_value (not INT64_MIN, False or '')."""
    coll = _null_coll(spark, str(tmp_path / "f"), dtype, fill)
    coll.insert(spark.createDataFrame(
        [(0, value, 1), (1, None, 1)], f"i long, v {ddl}, num long"))
    assert [r.v for r in coll.query().collect()] == [value, fill]


@pytest.mark.parametrize("dtype,ddl,fill,value", _NULLABLE)
def test_zarr_null_without_fill_raises(spark, tmp_path, dtype, ddl, fill,
                                       value):
    """Without a declared fill_value the write refuses the null, naming
    the variable and the partition, and publishes nothing."""
    coll = _null_coll(spark, str(tmp_path / "r"), dtype, None)
    df = spark.createDataFrame([(0, value, 1), (1, None, 2)],
                               f"i long, v {ddl}, num long")
    with pytest.raises(zc.SchemaError,
                       match=r"variable 'v' .* partition 'num=2'"):
        coll.insert(df)
    assert coll.partitions() == []
