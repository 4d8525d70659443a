"""Streaming pipeline demo: dedup a replayed stream, aggregate hourly,
ingest into a collection with upsert semantics, then stream it back out.

Run: ``python examples/ex_streaming.py``
"""

import atexit
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import zcollection_spark as zc
from zcollection_spark.data import load_table
from zcollection_spark.schema import infer_schema
from zcollection_spark.streaming import (deduped_events,
                                         hourly_event_counts,
                                         read_collection_stream,
                                         stream_events,
                                         write_stream_to_collection)


def main() -> None:
    spark = zc.get_spark("ex-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    tmp = tempfile.mkdtemp()
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)

    # 1. replayed-ingest dedup: every row arrives twice, state collapses
    print("deduped rows:", deduped_events(spark, sf).count())

    # 2. event-time windowed aggregation (availableNow to completion)
    print("hourly windows:", hourly_event_counts(spark, sf).count())

    # 3. continuous ingestion into a collection (batch-path merge
    #    semantics per micro-batch; catalog-gated visibility)
    batch = load_table(spark, sf, "events")
    coll = zc.create_collection(
        spark, f"{tmp}/ingested",
        schema=infer_schema(batch.schema, axis="ts"),
        axis="ts", partitioning=zc.Date(("ts",), resolution="D"))
    q = write_stream_to_collection(stream_events(spark, sf), coll,
                                   merge="upsert",
                                   checkpoint_dir=f"{tmp}/ckpt")
    q.awaitTermination()
    print("collection rows:", coll.query().count(),
          "partitions:", len(coll.partitions()))

    # 4. the collection is itself a streaming source
    sdf = read_collection_stream(spark, coll)
    out = (sdf.writeStream.format("memory").queryName("ex_out")
           .outputMode("append").trigger(availableNow=True).start())
    out.awaitTermination()
    print("streamed back out:", spark.table("ex_out").count())


if __name__ == "__main__":
    main()
