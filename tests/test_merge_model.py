"""Property test: merge strategies vs a numpy reference model.

The tolerance upsert is the subtlest semantic in the engine (SURVEY §7
"hard parts" #3): the reference keeps an existing row iff its axis value
has no nearest-inserted-value within tolerance (``searchsorted``,
``merge.py:262-272``).  We pin the Spark implementation against a literal
numpy reimplementation of that algorithm over randomized inputs.

The exact ``upsert`` and ``time_series`` are pinned on both layouts
against a per-partition pandas model over multi-partition batches with
null axis values on either side, duplicate axis values inside the
batch, partitions the batch does not touch, and the axis as the
partition key.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import zcollection_spark as zc
from zcollection_spark.zarr3.collection import create_zarr_collection


def numpy_upsert_model(existing: np.ndarray, inserted: np.ndarray,
                       tolerance: float | None) -> np.ndarray:
    """The reference's keep-set, re-implemented per merge.py:189-279."""
    if tolerance is None:
        keep = ~np.isin(existing, inserted)
    else:
        ins = np.sort(np.unique(inserted))
        pos = np.searchsorted(ins, existing)
        dist = np.full(existing.shape, np.inf)
        left_ok = pos > 0
        dist[left_ok] = np.minimum(
            dist[left_ok], np.abs(existing[left_ok] - ins[pos[left_ok] - 1]))
        right_ok = pos < len(ins)
        dist[right_ok] = np.minimum(
            dist[right_ok], np.abs(existing[right_ok] - ins[pos[right_ok]]))
        keep = dist > tolerance
    return np.sort(np.concatenate([existing[keep], inserted]))


@pytest.mark.parametrize("tolerance", [None, 0.0, 1.5, 10.0])
@given(
    existing=st.lists(st.integers(0, 60), min_size=1, max_size=25,
                      unique=True),
    inserted=st.lists(st.integers(0, 60), min_size=1, max_size=10,
                      unique=True),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_upsert_matches_numpy_model(spark, tmp_path_factory, tolerance,
                                    existing, inserted):
    existing_arr = np.array(sorted(existing), dtype=np.float64)
    inserted_arr = np.array(sorted(inserted), dtype=np.float64)
    want = numpy_upsert_model(existing_arr, inserted_arr, tolerance)

    # single-partition collection on an integer axis (values 0..60 → one
    # Sequence partition via constant key), merge through the engine
    tmp = tmp_path_factory.mktemp("upsert_model")
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "float64", ("t",))
              .add_variable("part", "int64", ("t",)).build())
    coll = zc.create_collection(
        spark, str(tmp / "c"), schema=schema, axis="t",
        partitioning=zc.Sequence(("part",)))

    def frame(vals):
        return spark.createDataFrame(pd.DataFrame({
            "t": vals, "part": np.zeros(len(vals), dtype=np.int64)}))

    coll.insert(frame(existing_arr))
    merge = "upsert" if tolerance is None else zc.upsert_within(tolerance)
    coll.insert(frame(inserted_arr), merge=merge)
    got = np.sort(coll.query().toPandas()["t"].to_numpy())
    np.testing.assert_array_equal(got, want)


def test_fragmented_key_insert_is_safe(spark, tmp_path):
    """Quirk Q3: the reference races per-contiguous-run writes when input
    is unsorted (silent data loss); the shuffle-by-key write fixes it —
    shuffled input with repeated keys keeps every row."""
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "t": np.arange(300, dtype=np.int64),
        "key": rng.integers(0, 3, size=300).astype(np.int64)})
    pdf = pdf.sample(frac=1.0, random_state=1).reset_index(drop=True)
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "int64", ("t",))
              .add_variable("key", "int64", ("t",)).build())
    coll = zc.create_collection(
        spark, str(tmp_path / "frag"), schema=schema, axis="t",
        partitioning=zc.Sequence(("key",)))
    coll.insert(spark.createDataFrame(pdf))
    assert coll.query().count() == 300  # nothing lost
    per_key = {r["key"]: r["count"] for r in
               coll.query().groupBy("key").count().collect()}
    want = pdf.groupby("key").size().to_dict()
    assert per_key == want


LAYOUTS = {"parquet": zc.create_collection, "zarr": create_zarr_collection}


def pandas_merge_model(existing: pd.DataFrame, inserted: pd.DataFrame, *,
                       merge: str, key: str) -> pd.DataFrame:
    """The reference's per-partition keep-sets (``merge.py:132-279``) on
    the ``t`` axis; partitions the batch does not touch stay as they are.
    A null axis value never matches, and is never outside the inserted
    bounds.  One rule for both layouts: the zarr layout's NaN is its
    null."""
    out = [existing[~existing[key].isin(inserted[key])]]
    for part, ins in inserted.groupby(key):
        old = existing[existing[key] == part]
        axis = ins["t"].dropna()
        if merge == "upsert":
            keep = old["t"].isna() | ~old["t"].isin(axis)
        elif axis.empty:
            keep = pd.Series(True, index=old.index)
        else:
            keep = (old["t"] < axis.min()) | (old["t"] > axis.max())
        out += [old[keep], ins]
    return pd.concat(out)


def _rows(pdf: pd.DataFrame) -> dict:
    """``v`` (a unique row id) -> (part, t), a NaN or null axis as None."""
    return {int(r.v): (int(r.part), None if pd.isna(r.t) else float(r.t))
            for r in pdf.itertuples()}


def _batches(seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Existing rows in partitions 0-3; a batch hitting 1 and 2 (2 with
    only null axis values on even seeds) and a new partition 4, with
    repeated axis values and nulls on both sides."""
    rng = np.random.default_rng(seed)

    def side(parts, first_id, all_null=()):
        frames = []
        for part in parts:
            n = int(rng.integers(3, 8))
            t = rng.integers(0, 12, n).astype(np.float64)
            t[rng.random(n) < 0.2] = np.nan
            if part in all_null:
                t[:] = np.nan
            frames.append(pd.DataFrame({"t": t, "part": part}))
        pdf = pd.concat(frames, ignore_index=True)
        pdf["part"] = pdf["part"].astype(np.int64)
        pdf["v"] = np.arange(first_id, first_id + len(pdf), dtype=np.int64)
        return pdf

    return (side([0, 1, 2, 3], 0),
            side([1, 2, 4], 1000, all_null=(2,) if seed % 2 == 0 else ()))


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
@pytest.mark.parametrize("merge", ["upsert", "time_series"])
@pytest.mark.parametrize("seed", [0, 1])
def test_exact_merges_match_pandas_model(spark, tmp_path, layout, merge,
                                         seed):
    existing, inserted = _batches(seed)
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "float64", ("t",))
              .add_variable("part", "int64", ("t",))
              .add_variable("v", "int64", ("t",)).build())
    coll = LAYOUTS[layout](spark, str(tmp_path / "c"), schema=schema,
                           axis="t", partitioning=zc.Sequence(("part",)))
    coll.insert(spark.createDataFrame(existing))
    coll.insert(spark.createDataFrame(inserted), merge=merge)
    want = pandas_merge_model(existing, inserted, merge=merge, key="part")
    got = coll.query().toPandas()
    assert _rows(got) == _rows(want)
    assert len(got) == len(want)


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
@pytest.mark.parametrize("merge", ["upsert", "time_series"])
def test_exact_merges_axis_as_partition_key(spark, tmp_path, layout,
                                            merge):
    """``Sequence`` on the axis itself: each partition holds one axis
    value, so both strategies replace exactly the partitions the batch
    names, whatever the duplicates on either side."""
    rng = np.random.default_rng(3)
    existing = pd.DataFrame({"t": rng.integers(0, 10, 30)
                             .astype(np.float64)})
    inserted = pd.DataFrame({"t": rng.integers(5, 15, 12)
                             .astype(np.float64)})
    existing["v"] = np.arange(len(existing), dtype=np.int64)
    inserted["v"] = np.arange(1000, 1000 + len(inserted), dtype=np.int64)
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "int64", ("t",))
              .add_variable("v", "int64", ("t",)).build())
    coll = LAYOUTS[layout](spark, str(tmp_path / "k"), schema=schema,
                           axis="t", partitioning=zc.Sequence(("t",)))

    def frame(pdf):
        return spark.createDataFrame(pdf.astype({"t": np.int64}))

    coll.insert(frame(existing))
    coll.insert(frame(inserted), merge=merge)
    want = pandas_merge_model(existing, inserted, merge=merge, key="t")
    got = coll.query().toPandas()
    assert sorted(zip(got["v"], got["t"])) == sorted(
        zip(want["v"], want["t"].astype(np.int64)))


@pytest.mark.parametrize("merge", ["upsert", "time_series"])
def test_exact_merges_keep_variables_named_like_helpers(spark, merge):
    """Variables named like the merges' helper columns survive them."""
    from zcollection_spark.collection import merge as merges
    cols = "part long, t double, __ins long, __ins_lo long, __ins_hit long"
    existing = spark.createDataFrame([(0, 1.0, 1, 2, 3), (0, 5.0, 4, 5, 6)],
                                     cols)
    inserted = spark.createDataFrame([(0, 1.0, 7, 8, 9)], cols)
    got = getattr(merges, merge)(existing, inserted, axis="t",
                                 keys=("part",))
    assert got.columns == existing.columns
    assert sorted(map(tuple, got.collect())) == [
        (0, 1.0, 7, 8, 9), (0, 5.0, 4, 5, 6)]


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_exact_upsert_nan_axis_matches_nothing(spark, tmp_path, layout):
    """An explicit NaN axis value matches nothing, like a null (and like
    ``numpy.isin``): both layouts keep every existing NaN and null row.
    The frames come from rows holding ``float("nan")``; a pandas NaN
    reaches Spark as a null."""
    cols = "t double, part long, v long"
    nan = float("nan")
    existing = spark.createDataFrame(
        [(1.0, 0, 1), (None, 0, 2), (nan, 0, 3), (5.0, 0, 4)], cols)
    inserted = spark.createDataFrame(
        [(nan, 0, 10), (None, 0, 11), (2.0, 0, 12)], cols)
    schema = (zc.SchemaBuilder().add_dimension("t")
              .add_variable("t", "float64", ("t",))
              .add_variable("part", "int64", ("t",))
              .add_variable("v", "int64", ("t",)).build())
    coll = LAYOUTS[layout](spark, str(tmp_path / "c"), schema=schema,
                           axis="t", partitioning=zc.Sequence(("part",)))
    coll.insert(existing)
    coll.insert(inserted, merge="upsert")
    assert sorted(r.v for r in coll.query().collect()) == [
        1, 2, 3, 4, 10, 11, 12]
