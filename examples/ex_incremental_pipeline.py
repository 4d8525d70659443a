"""Incremental consumption end-to-end: zone-map skipping, catalog
generations, the CDC stream, and the exclusive-writer lease in one
pipeline.

The shape every 100 TB training-data pipeline converges to:

1. a PRODUCER ingests batches into a collection under an exclusive
   lease (opt-in single-producer semantics);
2. zone-map statistics committed with each publish let ad-hoc quality
   queries skip partitions by value bounds, without a partition key
   for them;
3. a CONSUMER remembers the catalog generation it last processed and
   asks ``changes()`` (or subscribes via ``stream_changes``) for
   exactly the partitions that changed — processing stays proportional
   to the delta, not the collection.

Run: ``python examples/ex_incremental_pipeline.py``
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
    spark = zc.get_spark("ex-incremental")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="zcs_ex_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    root = tmp + "/events"
    sf_dir = "/root/testdata/sf0.001"

    events = load_table(spark, sf_dir, "events") \
        .select("event_id", "ts", "value")
    coll = zc.create_collection(
        spark, root,
        schema=infer_schema(events.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"),
        stats_columns=["value"])           # zone maps, committed per publish

    # -- producer: leased ingest of the first half-month ---------------
    with coll.exclusive_writer(ttl=60):
        coll.insert(events.where(F.dayofmonth("ts") <= 15))
    checkpoint = coll.generation()         # consumer remembers this

    # -- ad-hoc quality query: data-column skipping --------------------
    hot = coll.query(where="value > 400.0")
    n_hot = 0 if hot is None else hot.count()
    total_files = len(coll.query().inputFiles())
    hot_files = 0 if hot is None else len(hot.inputFiles())
    print(f"value > 400: {n_hot} rows, scanned {hot_files}/"
          f"{total_files} partition files (zone maps skipped the rest)")

    # -- producer commits a second batch -------------------------------
    with coll.exclusive_writer(ttl=60):
        coll.insert(events.where(F.dayofmonth("ts") > 15))

    # -- consumer: incremental delta, not a rescan ---------------------
    diff = coll.changes(checkpoint)
    print(f"since generation {diff['from']}: {len(diff['added'])} "
          f"partitions added, {len(diff['removed'])} removed")
    if diff["added"]:
        delta_filter = " or ".join(
            "(" + " and ".join(f"{k} == {v}" for k, v in
                               coll.partitioning.decode(rel).items())
            + ")" for rel in diff["added"][:3])
        sample = coll.query(filters=delta_filter)
        print(f"first 3 changed partitions re-read: "
              f"{sample.count()} rows, {len(sample.inputFiles())} files")

    # -- or as a stream: one availableNow pass over the same delta -----
    seen = []
    q = (zc.stream_changes(spark, root, starting_generation=checkpoint)
         .writeStream
         .foreachBatch(lambda df, _:
                       seen.extend(r.relpath for r in df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    print(f"CDC stream delivered {len(seen)} change events "
          f"(== changes() diff: {sorted(seen) == diff['added']})")

    # -- time travel: re-read EXACTLY what the checkpoint saw ----------
    # (VERSION AS OF — the batch complement of changes(): auditing
    # "what did the model train on" replays the historical view; the
    # appends above left every checkpoint-era partition untouched, so
    # the read is exact; a republished partition would raise instead)
    asof = coll.query(at_generation=checkpoint)
    now = coll.query()
    print(f"as of generation {checkpoint}: {asof.count()} rows "
          f"(today: {now.count()})")
    assert asof.count() < now.count()

    spark.stop()


if __name__ == "__main__":
    main()
