"""Nested groups, config/codec profiles, CLI, atomic-visibility behavior."""

import json

import numpy as np
import pandas as pd
import pytest

import zcollection_spark as zc
from zcollection_spark import cli, config


# -- nested groups (F5 hier fixture, tests/test_group.py) ------------------

@pytest.fixture()
def hier_collection(spark, tmp_path):
    pdf = pd.DataFrame({
        "time": np.arange(5, dtype=np.int64),
        "data_01/ku/power": [list(r) for r in
                             np.arange(20, dtype=np.float32).reshape(5, 4)],
    })
    schema = (zc.SchemaBuilder()
              .add_dimension("time").add_dimension("range", size=4)
              .add_group("data_01", {"product": "L2"})
              .add_group("data_01/ku", {"band": "Ku"})
              .add_variable("time", "int64", ("time",))
              .add_variable("data_01/ku/power", "float32",
                            ("time", "range"))
              .build("time"))
    coll = zc.create_collection(spark, str(tmp_path / "hier"),
                                schema=schema, axis="time",
                                partitioning=zc.Sequence(("time",)))
    coll.insert(spark.createDataFrame(pdf,
                                      schema=schema.to_struct_type()))
    return coll


def test_nested_group_roundtrip(spark, hier_collection):
    out = hier_collection.query().toPandas()
    assert list(out.columns) == ["time", "data_01/ku/power"]
    got = np.array(out["data_01/ku/power"].tolist(), dtype=np.float32)
    np.testing.assert_array_equal(
        got, np.arange(20, dtype=np.float32).reshape(5, 4))


def test_nested_group_short_name_projection(spark, hier_collection):
    out = hier_collection.query(variables=["power"])  # quirk Q8
    assert out.columns == ["data_01/ku/power"]


def test_group_attrs_persisted(spark, hier_collection):
    reopened = zc.open_collection(spark, hier_collection.path)
    assert reopened.schema.group_attrs["data_01"] == {"product": "L2"}
    assert reopened.schema.group_attrs["data_01/ku"] == {"band": "Ku"}


# -- config / codec profiles ----------------------------------------------

def test_config_override():
    assert config.get("codec.profile") == "cloud-balanced"
    with config.override(**{"codec.profile": "cloud-cold"}):
        assert config.profile().level == 9
    assert config.get("codec.profile") == "cloud-balanced"


def test_every_config_key_is_read():
    """Each ``_DEFAULTS`` key is named somewhere in the package besides
    its own entry: a key no code reads makes ``set_option`` a silent
    no-op."""
    import ast
    from pathlib import Path

    pkg = Path(config.__file__).parent
    texts = []
    for path in sorted(pkg.rglob("*.py")):
        text = path.read_text()
        if path == Path(config.__file__):
            lines = text.splitlines()
            for node in ast.parse(text).body:
                if (isinstance(node, ast.AnnAssign)
                        and getattr(node.target, "id", None) == "_DEFAULTS"):
                    del lines[node.lineno - 1:node.end_lineno]
            text = "\n".join(lines)
        texts.append(text)
    corpus = "\n".join(texts)
    unread = [key for key in config._DEFAULTS
              if f'"{key}"' not in corpus and f"'{key}'" not in corpus]
    assert unread == []


def test_config_unknown_key():
    with pytest.raises(KeyError):
        config.get("bogus")
    with pytest.raises(KeyError):
        config.set_option("bogus", 1)


def test_codec_profiles_parity():
    # reference profiles: local-fast zstd3, cloud-balanced sharded 128MiB
    # zstd3 (default), cloud-cold sharded 512MiB zstd9
    assert config.PROFILES["local-fast"].level == 3
    assert config.PROFILES["cloud-balanced"].shard_target_bytes == 128 << 20
    assert config.PROFILES["cloud-cold"].level == 9


# -- CLI -------------------------------------------------------------------

def test_cli_ls_and_inspect(spark, seq_collection, capsys):
    assert cli.main(["ls", seq_collection.path]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == ["num=0", "num=1", "num=2"]

    assert cli.main(["ls", seq_collection.path, "--filter", "num >= 1",
                     "--json"]) == 0
    assert json.loads(capsys.readouterr().out) == ["num=1", "num=2"]

    assert cli.main(["inspect", seq_collection.path]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["axis"] == "num"
    assert doc["n_partitions"] == 3
    assert doc["cluster_by"] == []      # unclustered default is visible
    assert {v["name"] for v in doc["variables"]} == {"num", "value",
                                                     "static"}


def test_cli_drop_guarded(spark, seq_collection, capsys):
    assert cli.main(["drop", seq_collection.path, "--filter", "num == 0",
                     "--yes"]) == 0
    assert "dropped 1" in capsys.readouterr().out
    assert len(seq_collection.partitions()) == 2


def test_cli_verify_gc(spark, seq_collection, capsys):
    """``verify --gc --older-than``: expired quarantined debris deleted,
    fresh debris kept, live staging dirs (with intents) never touched."""
    import json as _json
    import time
    from zcollection_spark.collection import staging as sp

    fs = seq_collection._fs
    root = seq_collection.path
    # intent-less debris → repair quarantines it (with a timestamp)
    fs.mkdirs(f"{root}/{sp.STAGING_RELPATH}/olddebris/num=9")
    fs.write_text(f"{root}/{sp.STAGING_RELPATH}/olddebris/num=9/d", "x")
    assert cli.main(["verify", root, "--repair"]) == 0
    capsys.readouterr()
    qdir = f"{root}/{sp.QUARANTINE_RELPATH}/olddebris"
    assert fs.exists(f"{qdir}/.quarantined_at")

    # a LIVE staged insert with an intent must survive any GC
    sid, staged = sp.new_staging_dir(fs, root)
    fs.mkdirs(f"{staged}/num=5")
    fs.write_text(f"{staged}/num=5/data.parquet", "payload")
    sp.write_intent(fs, staged, mode="swap", relpaths=["num=5"])

    # TTL not reached → kept
    assert cli.main(["verify", root, "--gc",
                     "--older-than", "3600"]) in (0, 1)
    capsys.readouterr()
    assert fs.exists(qdir)

    # age the stamp past the TTL → deleted; live staging untouched
    fs.write_text(f"{qdir}/.quarantined_at", str(time.time() - 7200))
    assert cli.main(["verify", root, "--gc",
                     "--older-than", "3600"]) in (0, 1)
    text = capsys.readouterr().out
    assert '"gc_deleted"' in text and "olddebris" in text
    assert not fs.exists(qdir)
    assert fs.exists(f"{staged}/num=5/data.parquet")  # staging intact
    assert fs.exists(f"{staged}/{sp.INTENT_NAME}")

    # unstamped legacy debris: kept at any positive TTL, purged at 0
    fs.mkdirs(f"{root}/{sp.QUARANTINE_RELPATH}/legacy/num=1")
    fs.write_text(f"{root}/{sp.QUARANTINE_RELPATH}/legacy/num=1/d", "x")
    gc = sp.gc_quarantine(fs, root, older_than=3600)
    assert gc["kept"] == ["legacy"] and gc["deleted"] == []
    gc = sp.gc_quarantine(fs, root, older_than=0)
    assert gc["deleted"] == ["legacy"]
    # the staged-with-intent dir STILL untouched after a full purge
    assert fs.exists(f"{staged}/num=5/data.parquet")


# -- atomic visibility -----------------------------------------------------

def test_catalog_is_visibility_gate(spark, seq_collection, seq_pdf,
                                    tmp_path):
    """Insert visibility = catalog swap (the staging+swap protocol of
    SURVEY §7): data files land first, the atomic catalog PUT commits."""
    # a partition dir present on disk but not in the catalog is invisible
    # to catalog-backed listing (until repair_catalog)
    rogue = tmp_path / "seq" / "num=99"
    rogue.mkdir()
    (rogue / "part-0.parquet").write_bytes(b"")
    assert "num=99" not in seq_collection.partitions()
    # repair() makes the store the source of truth again
    seq_collection.repair_catalog()
    assert "num=99" in seq_collection.partitions()


def test_cli_stats_and_compact(spark, seq_collection, seq_pdf, capsys):
    import json as _json
    # add a second batch so at least one partition has 2 files
    seq_collection.insert(
        spark.createDataFrame(seq_pdf).where("num = 2"), merge="concat")
    assert cli.main(["stats", seq_collection.path, "--rows"]) == 0
    stats = _json.loads(capsys.readouterr().out)
    by_rel = {e["partition"]: e for e in stats}
    assert by_rel["num=2"]["files"] == 2
    assert by_rel["num=2"]["rows"] == 6
    assert all(e["bytes"] > 0 for e in stats)

    assert cli.main(["compact", seq_collection.path]) == 0
    out = capsys.readouterr().out
    assert "compacted" in out
    assert cli.main(["stats", seq_collection.path]) == 0
    stats2 = _json.loads(capsys.readouterr().out)
    assert all(e["files"] == 1 for e in stats2)


def test_cli_on_zarr_collection(spark, tmp_path, capsys):
    import json as _json
    import numpy as np
    import pandas as pd
    import zcollection_spark as zc
    from zcollection_spark.zarr3.collection import create_zarr_collection
    schema = (zc.SchemaBuilder().add_dimension("num")
              .add_variable("num", "int64", ("num",))
              .add_variable("v", "float64", ("num",)).build("num"))
    coll = create_zarr_collection(spark, str(tmp_path / "zcli"),
                                  schema=schema, axis="num",
                                  partitioning=zc.Sequence(("num",)))
    coll.insert(spark.createDataFrame(
        pd.DataFrame({"num": np.array([0, 0, 1], dtype=np.int64),
                      "v": [1.0, 2.0, 3.0]}),
        schema=schema.to_struct_type()))
    assert cli.main(["ls", coll.path]) == 0
    assert capsys.readouterr().out.split() == ["num=0", "num=1"]
    assert cli.main(["inspect", coll.path]) == 0
    doc = _json.loads(capsys.readouterr().out)
    assert doc["n_partitions"] == 2
    assert cli.main(["stats", coll.path, "--rows"]) == 0
    stats = _json.loads(capsys.readouterr().out)
    assert all(e["files"] > 0 and e["bytes"] > 0 for e in stats)
    assert {e["partition"]: e["rows"] for e in stats} == \
        {"num=0": 2, "num=1": 1}


def test_cli_verify_and_repair(spark, seq_collection, capsys):
    import json as _json
    import shutil
    from pathlib import Path
    assert cli.main(["verify", seq_collection.path]) == 0
    report = _json.loads(capsys.readouterr().out)
    assert report["status"] == "OK"
    # vandalize: remove a partition dir behind the catalog's back
    shutil.rmtree(Path(seq_collection.path) / "num=2")
    assert cli.main(["verify", seq_collection.path]) == 1
    report = _json.loads(capsys.readouterr().out)
    assert report["missing_from_disk"] == ["num=2"]
    assert cli.main(["verify", seq_collection.path, "--repair"]) == 0
    capsys.readouterr()
    assert cli.main(["verify", seq_collection.path]) == 0
    report = _json.loads(capsys.readouterr().out)
    assert report["status"] == "OK"
    assert report["partitions_in_catalog"] == 2


def test_cli_repair_reports_recovery_outcome(spark, seq_collection,
                                             capsys):
    """``verify --repair`` surfaces what recovery DID: staged-with-
    intent inserts rolled forward, intent-less debris quarantined."""
    import json as _json
    from pathlib import Path
    from zcollection_spark.collection import staging as sp

    root = seq_collection.path
    fs = seq_collection._fs
    # staged insert with intent (crashed before publish)
    sid, staged = sp.new_staging_dir(fs, root)
    fs.mkdirs(f"{staged}/num=7")
    fs.write_text(f"{staged}/num=7/data.parquet", "payload")
    sp.write_intent(fs, staged, mode="swap", relpaths=["num=7"])
    # intent-less debris
    fs.mkdirs(f"{root}/{sp.STAGING_RELPATH}/zombie/num=8")

    assert cli.main(["verify", root]) == 1
    report = _json.loads(capsys.readouterr().out)
    assert sorted(report["interrupted_inserts"]) == sorted([sid, "zombie"])

    assert cli.main(["verify", root, "--repair"]) == 0
    out = capsys.readouterr().out
    repair = _json.loads("{" + out.split("}\n{", 1)[1])
    assert repair["rolled_forward"] == [sid]
    assert repair["quarantined"] == ["zombie"]
    assert repair["catalog_partitions"] == 4  # num=0,1,2 + recovered 7
    assert Path(root, "num=7", "data.parquet").exists()
    assert not Path(root, sp.STAGING_RELPATH, "zombie").exists()

    capsys.readouterr()
    assert cli.main(["verify", root]) == 0


def test_cli_changes(spark, seq_collection, capsys):
    """Ops surface of the incremental diff: bare call prints generation
    + history; --since prints added/removed."""
    assert cli.main(["changes", seq_collection.path]) == 0
    head = json.loads(capsys.readouterr().out)
    gen = head["generation"]
    assert gen >= 1 and gen in head["history"]

    import numpy as np
    import pandas as pd
    bound = seq_collection.schema
    pdf = pd.DataFrame({
        "num": np.array([7, 7], dtype=np.int64),
        "value": [[1.0, 2.0, 3.0]] * 2,
        "static": [[10.0, 20.0, 30.0]] * 2})
    seq_collection.insert(
        spark.createDataFrame(pdf, schema=bound.to_struct_type()))

    assert cli.main(["changes", seq_collection.path, "--since",
                     str(gen)]) == 0
    diff = json.loads(capsys.readouterr().out)
    assert diff["added"] == ["num=7"] and diff["removed"] == []
    # unknown/pruned generation: loud error, nonzero exit
    assert cli.main(["changes", seq_collection.path, "--since",
                     "999"]) == 1
    assert "not available" in json.loads(
        capsys.readouterr().out)["error"]
    assert cli.main(["inspect", seq_collection.path]) == 0
    doc = json.loads(capsys.readouterr().out)
    assert doc["generation"] == seq_collection.generation()


def test_cli_manifest(spark, seq_collection, capsys):
    """`manifest` publishes _catalog/files.json for read-only HTTP
    serving; the file lists every partition's data files."""
    from pathlib import Path
    assert cli.main(["manifest", seq_collection.path]) == 0
    out = capsys.readouterr().out
    assert "_catalog/files.json" in out
    doc = json.loads((Path(seq_collection.path)
                      / "_catalog" / "files.json").read_text())
    assert set(doc["files"]) >= set(seq_collection.partitions())
    for rel, files in doc["files"].items():
        if rel.startswith("_"):
            continue
        assert files and all(f.endswith(".parquet") for f in files)


def test_cli_ls_at_generation(spark, tmp_path, capsys):
    """--at-generation lists the historical partition set (and refuses
    an unavailable generation with a nonzero exit... via the raised
    ValueError surfacing, matching the API contract)."""
    import numpy as np
    import pandas as pd
    schema = (zc.SchemaBuilder()
              .add_dimension("i")
              .add_variable("i", "int64", ("i",))
              .add_variable("num", "int64", ("i",))
              .build())
    coll = zc.create_collection(
        spark, str(tmp_path / "clitt"), schema=schema, axis="i",
        partitioning=zc.Sequence(("num",)))

    def ins(num):
        pdf = pd.DataFrame({"i": np.array([num], dtype=np.int64),
                            "num": np.array([num], dtype=np.int64)})
        coll.insert(spark.createDataFrame(
            pdf, schema=coll.schema.to_struct_type()))

    ins(1)
    g1 = coll.generation()
    ins(2)
    assert cli.main(["ls", coll.path, "--at-generation", str(g1),
                     "--json"]) == 0
    assert json.loads(capsys.readouterr().out) == ["num=1"]
    assert cli.main(["ls", coll.path, "--json"]) == 0
    assert json.loads(capsys.readouterr().out) == ["num=1", "num=2"]
    with pytest.raises(ValueError, match="not available"):
        cli.main(["ls", coll.path, "--at-generation", "999"])


# -- struct view of the group tree (r16; data/group.py:218-280) -------------

@pytest.fixture()
def hier3_collection(spark, tmp_path):
    """3-level tree: time + data_01/{ku,c}/... + a root-level scalar."""
    pdf = pd.DataFrame({
        "time": np.arange(6, dtype=np.int64),
        "lat": np.linspace(-3, 2, 6).astype(np.float64),
        "data_01/ku/power": np.arange(6, dtype=np.float64) * 2.0,
        "data_01/ku/swh": np.arange(6, dtype=np.float64) + 0.5,
        "data_01/c/sig0": np.arange(6, dtype=np.float64) - 1.0,
    })
    schema = (zc.SchemaBuilder()
              .add_dimension("time")
              .add_group("data_01", {"product": "L2"})
              .add_group("data_01/ku", {"band": "Ku"})
              .add_group("data_01/c", {"band": "C"})
              .add_variable("time", "int64", ("time",))
              .add_variable("lat", "float64", ("time",))
              .add_variable("data_01/ku/power", "float64", ("time",))
              .add_variable("data_01/ku/swh", "float64", ("time",))
              .add_variable("data_01/c/sig0", "float64", ("time",))
              .build("time"))
    coll = zc.create_collection(spark, str(tmp_path / "hier3"),
                                schema=schema, axis="time",
                                partitioning=zc.Sequence(("time",)))
    coll.insert(spark.createDataFrame(pdf,
                                      schema=schema.to_struct_type()))
    return coll


def test_query_nested_struct_roundtrip(spark, hier3_collection):
    """query(nested=True) returns real StructType nesting with the flat
    values intact and attribute-path selection working."""
    from pyspark.sql import types as T
    out = hier3_collection.query(nested=True)
    assert out.columns == ["time", "lat", "data_01"]
    f = out.schema["data_01"].dataType
    assert isinstance(f, T.StructType)
    assert set(f.names) == {"ku", "c"}
    assert isinstance(f["ku"].dataType, T.StructType)
    assert set(f["ku"].dataType.names) == {"power", "swh"}
    # attribute-path access, the reference's tree semantics
    rows = (out.select("time", "data_01.ku.power", "data_01.c.sig0")
            .orderBy("time").collect())
    assert [r["power"] for r in rows] == [i * 2.0 for i in range(6)]
    assert [r["sig0"] for r in rows] == [i - 1.0 for i in range(6)]
    # flat and nested views agree value-for-value
    flat = hier3_collection.query().orderBy("time").collect()
    assert [r["data_01/ku/swh"] for r in flat] == \
        [r["swh"] for r in out.select("time", "data_01.ku.swh")
         .orderBy("time").collect()]


def test_query_nested_prunes_to_selected_leaf(spark, hier3_collection):
    """Catalyst nested-schema pruning: selecting one struct leaf reads
    only that flat column from parquet (ReadSchema check)."""
    out = hier3_collection.query(nested=True, ordered=False)
    plan = (out.select("data_01.ku.power")
            ._jdf.queryExecution().executedPlan().toString())
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "power" in read
    assert "swh" not in read and "sig0" not in read and "lat" not in read


def test_nest_struct_columns_rejects_leaf_group_conflict(spark):
    from zcollection_spark.errors import SchemaError
    df = spark.createDataFrame([(1, 2)], ["a", "a/b"])
    with pytest.raises(SchemaError, match="both a variable and a group"):
        zc.nest_struct_columns(df)
