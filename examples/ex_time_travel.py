"""Time-travel + pinned-generation retention end-to-end: VERSION AS OF
reads, the soundness gate, pins that survive republish, and partial
historical reads.

The reproducibility shape a training-data pipeline needs: "train run
417 read the corpus AS OF generation 12" must stay answerable after
months of re-crawls, dedup re-runs, and compactions.  Partition
directories are mutable (unlike Delta/Iceberg/icechunk data files), so
this engine makes the contract explicit:

1. a plain ``query(at_generation=g)`` is EXACT while every gen-g
   partition is physically untouched — and refuses loudly otherwise
   (never a silent mix of generations);
2. ``pin_generation(g)`` upgrades that to icechunk-parity: later
   republishes copy the old content aside first (server-side on object
   stores), so the pinned read stays bit-identical forever;
3. unpinned history stays honestly partial: ``stale_partitions(g)``
   names exactly what a filtered read would miss.

Run: ``python examples/ex_time_travel.py``
"""

import atexit
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

import zcollection_spark as zc
from zcollection_spark.data import load_table
from zcollection_spark.schema import infer_schema


def main() -> None:
    spark = zc.get_spark("ex-time-travel")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="zcs_ex_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = tmp + "/corpus"
    sf_dir = "/root/testdata/sf0.001"

    events = load_table(spark, sf_dir, "events") \
        .select("event_id", "ts", "value")
    coll = zc.create_collection(
        spark, root,
        schema=infer_schema(events.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"))

    # -- the training run reads generation g ----------------------------
    coll.insert(events.where(F.dayofmonth("ts") <= 10))
    g = coll.generation()                  # "train run 417 used gen g"
    baseline = coll.query(at_generation=g).agg(
        F.sum("value").alias("s")).collect()[0]["s"]

    # append-only growth never disturbs history
    coll.insert(events.where(F.dayofmonth("ts") > 10))
    assert coll.query(at_generation=g).agg(
        F.sum("value")).collect()[0][0] == baseline

    # -- pin BEFORE maintenance: republish becomes invisible at g -------
    coll.pin_generation(g)
    day3 = coll.query(filters="day == 3")
    coll.insert(day3.withColumn("value", F.lit(0.0)))   # re-crawl day 3
    replayed = coll.query(at_generation=g).agg(
        F.sum("value")).collect()[0][0]
    assert replayed == baseline            # bit-identical replay
    assert coll.stale_partitions(g) == []

    # -- unpinned history is honestly partial ---------------------------
    coll.unpin_generation(g)               # reclaims the retained copy
    stale = coll.stale_partitions(g)
    assert stale and all("day=3" in rel for rel in stale)
    try:
        coll.query(at_generation=g)
        raise AssertionError("must refuse: day 3 is gone")
    except ValueError:
        pass
    # ...but a filter that excludes the stale day still reads exactly
    partial = coll.query(filters="day == 4", at_generation=g)
    assert partial.count() > 0

    print(f"time-travel example OK: gen {g} replayed sum={baseline}, "
          f"partial read past stale {stale}")


if __name__ == "__main__":
    main()
