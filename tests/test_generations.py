"""Catalog commit generations and incremental partition diffs.

Every catalog commit carries a CAS-serialized ``generation`` counter, a
per-partition last-touched stamp, and an immutable per-generation
snapshot file (``_catalog/gen-NNN.json``).  ``Collection.changes(g)``
turns that into the incremental-consumption primitive: a downstream
pipeline remembers the generation it last processed and receives
exactly the partitions added/replaced/removed since — no full rescans,
no file-mtime heuristics.  No reference counterpart (the reference's
catalog is a single mutable list).
"""

from __future__ import annotations

import json
import threading

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark.collection import catalog as catmod
from zcollection_spark.collection.catalog import Catalog
from zcollection_spark.errors import StoreError
from zcollection_spark.fs import CountingFS, LocalFS


def _mk(spark, path):
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    return zc.create_collection(
        spark, path, schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))


def _df(spark, coll, rows):
    pdf = pd.DataFrame({
        "i": np.arange(len(rows), dtype=np.int64) + rows[0][0] * 1000,
        "value": np.array([v for _, v in rows], dtype=np.float64),
        "num": np.array([n for n, _ in rows], dtype=np.int64)})
    return spark.createDataFrame(pdf, schema=coll.schema.to_struct_type())


def test_generation_increments_and_snapshots_exist(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"))
    g0 = coll.generation()           # create writes the empty catalog
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    g1 = coll.generation()
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g2 = coll.generation()
    assert g0 < g1 < g2
    assert coll._catalog.history()[-2:] == [g1, g2]
    snap = coll._catalog.read_at(g1)
    assert snap["partitions"] == ["num=1"]


def test_changes_added_replaced_removed(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"))
    coll.insert(_df(spark, coll, [(1, 1.0), (2, 2.0)]))
    g1 = coll.generation()
    # add num=3, replace num=2
    coll.insert(_df(spark, coll, [(2, 20.0), (3, 3.0)]))
    diff = coll.changes(g1)
    assert diff["added"] == ["num=2", "num=3"]   # replaced counts as added
    assert diff["removed"] == []
    # untouched num=1 is NOT in the diff
    coll.drop_partitions(filters="num == 1")
    diff2 = coll.changes(g1)
    assert diff2["removed"] == ["num=1"]
    assert coll.changes(coll.generation()) == {
        "added": [], "removed": [],
        "from": coll.generation(), "to": coll.generation()}


def test_changes_on_pruned_history_raises(spark, tmp_path):
    coll = _mk(spark, str(tmp_path / "c"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    g1 = coll.generation()
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    coll._catalog.prune_history(keep_last=1)
    with pytest.raises(StoreError, match="not available"):
        coll.changes(g1)
    # the current generation still answers (served from state)
    assert coll.changes(coll.generation())["added"] == []


def test_read_at_serves_state_when_snapshot_missing(tmp_path):
    """Crash window between the state PUT and the snapshot PUT: the
    newest generation must still be readable (from state)."""
    fs = LocalFS()
    cat = Catalog(fs, str(tmp_path / "store"))
    cat.add(["num=1"])
    gen = cat.generation()
    fs.delete(cat._gen_path(gen))  # simulate the crash
    doc = cat.read_at(gen)
    assert doc["partitions"] == ["num=1"]


def test_catalog_document_is_read_in_one_get(tmp_path):
    """Every read of the state document is one GET with no existence
    probe before it, whether the document is absent or present; a
    snapshot is validated like the state document."""
    fs = CountingFS(LocalFS())
    cat = Catalog(fs, str(tmp_path / "store"))
    reads = {"read": cat.read, "read_doc": cat.read_doc,
             "read_stats": cat.read_stats, "generation": cat.generation,
             "read_txn": lambda: cat.read_txn("app")}

    def counts():
        out = {}
        for name, read in reads.items():
            fs.reset()
            read()
            out[name] = dict(fs.counts)
        return out

    assert counts() == {name: {"get": 1} for name in reads}
    cat.add(["num=1"])
    cat.add(["num=2"])
    assert cat.read() == ["num=1", "num=2"]
    assert counts() == {name: {"get": 1} for name in reads}
    old = cat.generation() - 1
    snap = cat._gen_path(old)
    fs.write_text(snap, json.dumps({"partitions": ["num=9"],
                                    "checksum": "bad"}))
    assert cat.read_at(old) is None
    fs.write_text(snap, "[]")
    assert cat.read_at(old) is None


def test_repair_stamps_everything_current(spark, tmp_path):
    """A catalog rebuild cannot know per-partition ages — consumers must
    reprocess everything rather than silently skip."""
    coll = _mk(spark, str(tmp_path / "c"))
    coll.insert(_df(spark, coll, [(1, 1.0), (2, 2.0)]))
    g1 = coll.generation()
    coll.repair_catalog()
    diff = coll.changes(g1)
    assert diff["added"] == ["num=1", "num=2"]


class _FreshLocks:
    def __getitem__(self, key):
        return threading.Lock()


def test_racing_writers_get_distinct_increasing_generations(
        tmp_path, monkeypatch):
    monkeypatch.setattr(catmod, "_LOCKS", _FreshLocks())
    root = str(tmp_path / "store")
    gens: list[int] = []
    lock = threading.Lock()

    def writer(tag: str):
        cat = Catalog(LocalFS(), root)
        for i in range(12):
            cat.add([f"num={tag}{i}"])
            with lock:
                gens.append(cat.generation())

    threads = [threading.Thread(target=writer, args=(t,)) for t in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    final = Catalog(LocalFS(), root)
    # 24 commits -> 24 distinct generations, every snapshot present
    assert final.generation() == 24
    assert final.history() == list(range(1, 25))


def test_zarr3_generation_parity(spark, tmp_path):
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "z"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))
    g0 = coll.generation()
    pdf = pd.DataFrame({"i": np.array([0], dtype=np.int64),
                        "value": np.array([1.0]),
                        "num": np.array([5], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))
    assert coll.generation() > g0
    assert coll.changes(g0)["added"] == ["num=5"]


def test_history_ledger_describes_each_commit(spark, tmp_path):
    """Collection.history: one row per generation, newest first, with
    exactly what that commit added/replaced/removed — and the streaming
    txn ledger rides along."""
    coll = _mk(spark, str(tmp_path / "h"))
    coll.insert(_df(spark, coll, [(1, 1.0), (2, 2.0)]))
    coll.insert(_df(spark, coll, [(2, 9.0)]), merge="replace")
    coll.insert(_df(spark, coll, [(3, 3.0)]),
                txn=("app-x", 7))
    coll.drop_partitions(filters="num == 1")

    hist = coll.history()
    gens = [h["generation"] for h in hist]
    assert gens == sorted(gens, reverse=True)

    by_gen = {h["generation"]: h for h in hist}
    g0 = min(gens)                       # create: the empty catalog
    assert by_gen[g0]["added"] == [] and by_gen[g0]["n_partitions"] == 0
    assert by_gen[g0 + 1]["added"] == ["num=1", "num=2"]
    assert by_gen[g0 + 2]["added"] == ["num=2"]     # replacement
    assert by_gen[g0 + 3]["added"] == ["num=3"]
    assert by_gen[g0 + 3]["txn"] == {"app-x": 7}
    drop = by_gen[g0 + 4]
    assert drop["added"] == [] and drop["removed"] == ["num=1"]
    assert drop["n_partitions"] == 2

    # limit caps the ledger from the newest end
    assert [h["generation"] for h in coll.history(limit=2)] \
        == gens[:2]
    # limit=0 would slice [-0:] == everything — rejected loudly
    import pytest
    with pytest.raises(ValueError, match="limit"):
        coll.history(limit=0)
    with pytest.raises(ValueError, match="limit"):
        coll.history(limit=-1)


def test_history_cli_and_zarr_parity(spark, tmp_path, capsys):
    """The CLI surface prints the same ledger; ZarrCollection exposes
    the identical API (shared catalog machinery)."""
    import json as _json
    from zcollection_spark.cli import main as cli_main
    coll = _mk(spark, str(tmp_path / "hc"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    rc = cli_main(["history", str(tmp_path / "hc"), "--limit", "3"])
    assert rc == 0
    rows = _json.loads(capsys.readouterr().out)
    assert rows[0]["added"] == ["num=1"]

    from zcollection_spark.schema import infer_schema
    from zcollection_spark.zarr3.collection import create_zarr_collection
    ev = _df(spark, coll, [(1, 1.0)])
    zcoll = create_zarr_collection(
        spark, str(tmp_path / "hz"),
        schema=infer_schema(ev.schema, axis="i"), axis="i",
        partitioning=zc.Sequence(("num",)))
    zcoll.insert(ev)
    zhist = zcoll.history()
    assert zhist[0]["added"] == ["num=1"]


# ---------------------------------------------------------------------------
# time-travel reads (query/partitions at_generation) — VERSION AS OF
# ---------------------------------------------------------------------------


def test_query_at_generation_append_only_history(spark, tmp_path):
    """The batch complement of changes(): an append-only history is
    exactly reconstructable at every retained generation, and the
    current read is unaffected."""
    coll = _mk(spark, str(tmp_path / "tt"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    g1 = coll.generation()
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g2 = coll.generation()
    coll.insert(_df(spark, coll, [(3, 3.0)]))
    g3 = coll.generation()
    assert coll.partitions(at_generation=g2) == ["num=1", "num=2"]
    rows = coll.query(at_generation=g2).select("num").collect()
    assert sorted(r.num for r in rows) == [1, 2]
    # key filters compose with the historical partition list
    only = coll.query(filters="num == 1", at_generation=g2).collect()
    assert len(only) == 1 and only[0].value == 1.0
    # earliest and current generations both reconstruct
    assert [r.num for r in
            coll.query(at_generation=g1).select("num").collect()] == [1]
    assert coll.partitions(at_generation=g3) == ["num=1", "num=2",
                                                 "num=3"]
    # the present-day read is untouched by any of the above
    assert sorted(r.num for r in
                  coll.query().select("num").collect()) == [1, 2, 3]


def test_query_at_generation_refuses_rewritten_partition(spark,
                                                         tmp_path):
    """Partition dirs are mutable: once a gen-N partition is
    republished, gen N cannot be reconstructed — the read must raise,
    never silently mix generations (the soundness gate)."""
    coll = _mk(spark, str(tmp_path / "tt2"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g2 = coll.generation()
    # default merge REPLACES partition num=1 -> its touched stamp bumps
    coll.insert(_df(spark, coll, [(1, 9.0)]))
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.query(at_generation=g2)
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.partitions(at_generation=g2)
    # a generation at/after the rewrite is reconstructable again
    now = coll.generation()
    vals = {r.num: r.value for r in
            coll.query(at_generation=now).collect()}
    assert vals == {1: 9.0, 2: 2.0}


def test_query_at_generation_refuses_after_drop_and_prune(spark,
                                                          tmp_path):
    coll = _mk(spark, str(tmp_path / "tt3"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g2 = coll.generation()
    coll.drop_partitions(filters="num == 1")
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.query(at_generation=g2)
    # the surviving partition still reconstructs at the current gen
    assert coll.partitions(at_generation=coll.generation()) == ["num=2"]
    # pruned snapshot -> loud unavailability, mirroring changes()
    coll.insert(_df(spark, coll, [(3, 3.0)]))
    coll._catalog.prune_history(keep_last=1)
    with pytest.raises(ValueError, match="not available"):
        coll.query(at_generation=g2)


def test_zarr_query_at_generation_parity(spark, tmp_path):
    """The zarr layout shares the staleness gate: append-only history
    reconstructs (via a pushed key predicate over the historical
    partition set), a replaced partition refuses."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "ztt"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))

    def ins(num, vals):
        pdf = pd.DataFrame({
            "i": np.arange(len(vals), dtype=np.int64) + num * 100,
            "value": np.array(vals, dtype=np.float64),
            "num": np.full(len(vals), num, dtype=np.int64)})
        coll.insert(spark.createDataFrame(
            pdf, schema=coll.schema.to_struct_type()))

    ins(1, [1.0]); ins(2, [2.0])
    g2 = coll.generation()
    ins(3, [3.0])
    assert coll.partitions(at_generation=g2) == ["num=1", "num=2"]
    assert sorted(r.num for r in
                  coll.query(at_generation=g2).collect()) == [1, 2]
    assert sorted(r.num for r in coll.query().collect()) == [1, 2, 3]
    ins(1, [9.0])   # replace num=1 -> gen g2 is gone
    with pytest.raises(ValueError, match="republished or dropped"):
        coll.query(at_generation=g2)


def test_time_travel_where_verifies_snapshot_once(spark, tmp_path,
                                                  monkeypatch):
    """r10-advice regression: a where-clause time-travel query used to
    fetch + staleness-verify the gen-N snapshot TWICE (once for the
    partition list, once for zone stats) — two extra catalog GETs per
    query on object stores.  Both layouts must verify exactly once."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    calls = []
    # count the shared resolution core: verify/resolve_snapshot_readable
    # and both layouts' query paths all land in _snapshot_sources
    real = catmod._snapshot_sources

    def counting(catalog, generation):
        calls.append(generation)
        return real(catalog, generation)

    monkeypatch.setattr(catmod, "_snapshot_sources", counting)

    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, str(tmp_path / "once"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), stats_columns=["value"])
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g = coll.generation()
    calls.clear()
    rows = coll.query(where="value >= 1.5", at_generation=g).collect()
    assert [r.num for r in rows] == [2]
    assert len(calls) == 1, calls

    zcoll = create_zarr_collection(
        spark, str(tmp_path / "zonce"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)), stats_columns=["value"])
    zcoll.insert(_df(spark, zcoll, [(1, 1.0)]))
    zcoll.insert(_df(spark, zcoll, [(2, 2.0)]))
    zg = zcoll.generation()
    calls.clear()
    zrows = zcoll.query(where="value >= 1.5", at_generation=zg).collect()
    assert [r.num for r in zrows] == [2]
    assert len(calls) == 1, calls


def test_zarr_filterless_query_after_filtered(spark, tmp_path):
    """Regression: the cached zarr base scan shares ONE reader whose
    pushed-filter state is only reset when a query pushes filters — a
    filterless query planned after a filtered one must NOT inherit the
    previous pruning (found via time-travel, but reproducible with a
    plain key filter)."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("value", "float64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "zreset"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))
    pdf = pd.DataFrame({
        "i": np.arange(3, dtype=np.int64),
        "value": np.array([1.0, 2.0, 3.0]),
        "num": np.array([1, 2, 3], dtype=np.int64)})
    coll.insert(spark.createDataFrame(
        pdf, schema=coll.schema.to_struct_type()))
    assert sorted(r.num for r in coll.query().collect()) == [1, 2, 3]
    assert sorted(r.num for r in
                  coll.query(filters="num in (1, 2)").collect()) == [1, 2]
    # the poisoned read: same generation, no filters
    assert sorted(r.num for r in coll.query().collect()) == [1, 2, 3]


def test_changes_between_two_generations(spark, tmp_path):
    """Bounded diffs replay a historical window exactly, whatever was
    committed after it — the CDC complement of at_generation reads."""
    from zcollection_spark.errors import StoreError
    coll = _mk(spark, str(tmp_path / "cw"))
    coll.insert(_df(spark, coll, [(1, 1.0)]))
    g1 = coll.generation()
    coll.insert(_df(spark, coll, [(2, 2.0)]))
    g2 = coll.generation()
    coll.insert(_df(spark, coll, [(1, 9.0)]))   # replace num=1
    g3 = coll.generation()
    coll.insert(_df(spark, coll, [(3, 3.0)]))
    # the g1->g2 window saw exactly num=2 arrive, regardless of the
    # replace and the append that came later
    assert coll.changes(g1, g2) == {"added": ["num=2"], "removed": [],
                                    "from": g1, "to": g2}
    # the g2->g3 window saw only the num=1 replacement
    assert coll.changes(g2, g3) == {"added": ["num=1"], "removed": [],
                                    "from": g2, "to": g3}
    # identical endpoints -> empty; reversed endpoints -> loud
    assert coll.changes(g2, g2)["added"] == []
    with pytest.raises(ValueError, match="newer than"):
        coll.changes(g3, g1)
    # a pruned target raises like a pruned base does
    with pytest.raises(StoreError, match="not available"):
        coll.changes(g1, 999)
    # the open-ended form keeps its resync contract for unknown/future
    # generations (incremental consumers branch on StoreError)
    with pytest.raises(StoreError, match="resync"):
        coll.changes(999)


def test_changes_between_two_generations_zarr_parity(spark, tmp_path):
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder().add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "zcw"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))

    def ins(num):
        pdf = pd.DataFrame({"i": np.array([num], dtype=np.int64),
                            "num": np.array([num], dtype=np.int64)})
        coll.insert(spark.createDataFrame(
            pdf, schema=coll.schema.to_struct_type()))

    ins(1)
    g1 = coll.generation()
    ins(2)
    g2 = coll.generation()
    ins(3)
    assert coll.changes(g1, g2)["added"] == ["num=2"]
    with pytest.raises(ValueError, match="newer than"):
        coll.changes(coll.generation(), g1)


def test_zarr_time_travel_exact_over_live_and_retained(spark, tmp_path):
    """On a 3-key Date("D") zarr layout whose generation-g read mixes
    live partitions with a retained (pinned) copy, ``at_generation=g``
    returns exactly generation g's rows: the republished partition from
    its retained copy, and never a partition committed after g."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder().add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("ts", "datetime64[ns]", ("i",))
              .add_variable("value", "float64", ("i",))
              .build())
    coll = create_zarr_collection(
        spark, str(tmp_path / "zk"), schema=schema, axis="i",
        partitioning=zc.Date(("ts",), resolution="D"),
        stats_columns=["value"])

    def ins(rows):
        pdf = pd.DataFrame({
            "i": np.array([i for i, _, _ in rows], dtype=np.int64),
            "ts": pd.to_datetime([t for _, t, _ in rows]).astype(
                "datetime64[us]"),
            "value": np.array([v for _, _, v in rows])})
        coll.insert(spark.createDataFrame(
            pdf, schema=coll.schema.to_struct_type()))

    def rows(df):
        return sorted((r.i, r.value) for r in df.collect())

    ins([(1, "2000-01-01T01:00", 1.0), (2, "2000-01-01T02:00", 2.0),
         (3, "2000-01-02T01:00", 3.0), (4, "2001-12-26T01:00", 4.0)])
    g = coll.generation()
    coll.pin_generation(g)
    ins([(5, "2000-01-01T03:00", 50.0)])        # republish 2000-01-01
    ins([(6, "2000-01-28T01:00", 6.0),          # post-snapshot keys
         (7, "2002-01-01T01:00", 7.0),
         (8, "2001-12-27T01:00", 8.0)])
    assert len(coll.partitions()) == 6
    assert coll.partitions(at_generation=g) == [
        "year=2000/month=1/day=1", "year=2000/month=1/day=2",
        "year=2001/month=12/day=26"]

    assert rows(coll.query(at_generation=g)) == [
        (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]
    assert rows(coll.query(filters="year == 2000 and month == 1",
                           at_generation=g)) == [(1, 1.0), (2, 2.0),
                                                 (3, 3.0)]
    assert rows(coll.query(filters="day >= 26", at_generation=g)) \
        == [(4, 4.0)]
    assert rows(coll.query(where="value >= 2.0", at_generation=g)) \
        == [(2, 2.0), (3, 3.0), (4, 4.0)]
    # the live read sees the republish and the post-snapshot partitions
    assert rows(coll.query()) == [(3, 3.0), (4, 4.0), (5, 50.0),
                                  (6, 6.0), (7, 7.0), (8, 8.0)]


def test_generation_never_repeats_after_corrupt_state(spark, tmp_path):
    """A commit over a corrupt state document seeds its generation from
    the snapshots left behind: the numbering never goes backwards, so no
    old ``gen-N.json`` is served as a new generation's document and an
    incremental consumer still sees the new partition."""
    coll = _mk(spark, str(tmp_path / "c"))
    cat = coll._catalog
    for n in range(1, 4):
        cat.add([f"num={n}"])
    old_max = max(cat.history())
    (tmp_path / "c" / "_catalog" / "state.json").write_text("{broken")
    cat.add(["num=9"])
    assert cat.generation() > old_max
    assert cat.read_at(old_max)["generation"] == old_max
    assert coll.changes(old_max)["added"] == ["num=9"]


class _StateReads:
    """Counts reads of the state document and of generation snapshots
    through the local store (every catalog read goes through one of
    these two methods)."""

    def __init__(self, monkeypatch):
        self.state = self.snapshots = 0
        for name in ("read_versioned", "read_text"):
            real = getattr(LocalFS, name)
            monkeypatch.setattr(LocalFS, name, self._wrap(real))

    def _wrap(self, real):
        def read(fs, path, *args):
            if path.endswith("/_catalog/state.json"):
                self.state += 1
            elif "/_catalog/gen-" in path:
                self.snapshots += 1
            return real(fs, path, *args)
        return read

    def take(self) -> tuple[int, int]:
        out = (self.state, self.snapshots)
        self.state = self.snapshots = 0
        return out


@pytest.mark.parametrize("layout", ["parquet", "zarr"])
def test_query_and_history_read_the_state_document_once(
        spark, tmp_path, monkeypatch, layout):
    """One state-document read per query, whether it prunes by key, by
    zone map or reads a past generation (which adds its one snapshot
    read); ``history`` reads state once and each snapshot once."""
    from zcollection_spark.zarr3.collection import create_zarr_collection
    create = (zc.create_collection if layout == "parquet"
              else create_zarr_collection)
    coll = create(spark, str(tmp_path / "c"),
                  schema=_mk(spark, str(tmp_path / "s")).schema,
                  axis="i", partitioning=zc.Sequence(("num",)),
                  stats_columns=["value"])
    for n in range(1, 4):
        coll.insert(_df(spark, coll, [(n, float(n))]))
    g = coll.generation()
    reads = _StateReads(monkeypatch)
    coll.query(filters="num >= 2")
    assert reads.take() == (1, 0)
    assert coll.query(where="value >= 2.5").count() == 1
    assert reads.take()[0] == 1
    assert coll.query(at_generation=g - 1).count() == 2
    assert reads.take() == (1, 1)
    assert len(coll.history(limit=10)) == 4
    state, snapshots = reads.take()
    assert state == 1 and snapshots >= 4


def test_commit_encodes_once_and_snapshot_equals_state(tmp_path,
                                                      monkeypatch):
    """Each commit attempt encodes its document once; the snapshot PUT
    carries the state document's own bytes."""
    fs = LocalFS()
    root = tmp_path / "store"
    cat = Catalog(fs, str(root))
    cat.add(["num=1"])
    encodes = []
    real_dumps = json.dumps

    def dumps(obj, *args, **kwargs):
        encodes.append(obj.get("generation"))
        return real_dumps(obj, *args, **kwargs)

    monkeypatch.setattr(catmod.json, "dumps", dumps)
    cat.add(["num=2"], stats={"num=2": {"value": [1.0, 2.0, 0]}})
    assert encodes == [2]
    state = (root / "_catalog" / "state.json").read_bytes()
    assert (root / "_catalog" / "gen-000000000002.json").read_bytes() \
        == state

    # a lost race re-reads, re-merges and encodes again: once per
    # attempt.  A rival commits between our encode and our PUT
    real_write_if = LocalFS.write_if

    def write_if(self, path, data, token):
        if not encodes[1:]:
            Catalog(LocalFS(), str(root)).add(["num=4"])
        return real_write_if(self, path, data, token)

    encodes.clear()
    monkeypatch.setattr(catmod, "_LOCKS", _FreshLocks())
    monkeypatch.setattr(LocalFS, "write_if", write_if)
    cat.add(["num=3"])
    assert encodes == [3, 3, 4]  # ours, the rival's, ours again
    assert cat.read() == ["num=1", "num=2", "num=3", "num=4"]
    state = (root / "_catalog" / "state.json").read_bytes()
    assert (root / "_catalog" / "gen-000000000004.json").read_bytes() \
        == state
