"""Secondary-index example: half-orbit data indexed by pass number.

Mirrors the reference's ``examples/ex_indexing.py`` (cycle/pass layout).
Run: ``python examples/ex_indexing.py``
"""

import atexit
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd

import zcollection_spark as zc
from zcollection_spark.indexing import Indexer, ranges_for


def main() -> None:
    spark = zc.get_spark("ex-indexing")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="zcs_ex_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    pdf = pd.DataFrame({
        "time": np.arange(1000, dtype=np.int64),
        "cycle_number": np.repeat(np.arange(5, dtype=np.int64), 200),
        "pass_number": np.tile(np.repeat(np.arange(20, dtype=np.int64),
                                         10), 5)})
    schema = (zc.SchemaBuilder().add_dimension("time")
              .add_variable("time", "int64", ("time",))
              .add_variable("cycle_number", "int64", ("time",))
              .add_variable("pass_number", "int64", ("time",)).build())
    coll = zc.create_collection(
        spark, f"{root}/orbit", schema=schema, axis="time",
        partitioning=zc.Sequence(("cycle_number",)))
    coll.insert(spark.createDataFrame(pdf))

    indexer = Indexer(spark, f"{root}/index")
    indexer.build(coll, builder=lambda p: ranges_for(p, ["pass_number"]),
                  schema="pass_number long")

    print("lookup pass 3:", indexer.lookup(coll, pass_number=3))
    hits = indexer.query(coll, pass_number=[1, 2], cycle_number=4)
    print("rows for passes 1-2 of cycle 4:", hits.count())

    # the same index works over the ZARR layout, and its lookup ranges
    # drive chunk-level partial reads (only intersecting chunks decode)
    from zcollection_spark.zarr3.collection import create_zarr_collection
    zcoll = create_zarr_collection(
        spark, f"{root}/orbit_zarr", schema=schema, axis="time",
        partitioning=zc.Sequence(("cycle_number",)))
    zcoll.insert(spark.createDataFrame(pdf))
    zindexer = Indexer(spark, f"{root}/zindex")
    zindexer.build(zcoll, builder=lambda p: ranges_for(p, ["pass_number"]),
                   schema="pass_number long")
    ranges = zindexer.lookup(zcoll, pass_number=7)
    partial = zcoll.read_row_ranges(ranges)
    print("zarr partial read of pass 7:", partial.count(), "rows from",
          sum(len(v) for v in ranges.values()), "ranges")
    spark.stop()


if __name__ == "__main__":
    main()
