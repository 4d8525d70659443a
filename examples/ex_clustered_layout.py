"""Clustered file layouts: range clustering for one hot column,
Z-order for multi-column box predicates.

Zone maps (``stats_columns=``) prune ACROSS partitions; clustering
prunes WITHIN them — the write task-locally sorts rows so parquet
row-group min/max become tight, and Spark's native row-group pruning
skips most of each partition under a selective predicate.

Run: ``python examples/ex_clustered_layout.py``
"""

import atexit
import glob
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pandas as pd

import zcollection_spark as zc


def _schema():
    return (zc.SchemaBuilder()
            .add_dimension("i", chunks=10_000)
            .add_variable("i", "int64", ("i",))
            .add_variable("x", "int64", ("i",))
            .add_variable("y", "int64", ("i",))
            .add_variable("num", "int64", ("i",))
            .build())


def _overlap(files: list, col: str, lo: float, hi: float) -> tuple:
    import pyarrow.parquet as pq
    hit = tot = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = next(c for c in range(md.num_columns)
                   if md.row_group(0).column(c).path_in_schema == col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            tot += 1
            if st.min <= hi and st.max >= lo:
                hit += 1
    return hit, tot


def main() -> None:
    spark = zc.get_spark("ex-clustered")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp()
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)

    rng = np.random.default_rng(9)
    n = 100_000
    pdf = pd.DataFrame({
        "i": np.arange(n, dtype=np.int64),
        "x": rng.integers(0, 100_000, n).astype(np.int64),
        "y": rng.integers(0, 100_000, n).astype(np.int64),
        "num": np.zeros(n, dtype=np.int64)})

    results = {}
    for label, kw in (("plain", {}),
                      ("range", {"cluster_by": ["x", "y"]}),
                      ("zorder", {"cluster_by": ["x", "y"],
                                  "cluster_mode": "zorder"})):
        coll = zc.create_collection(
            spark, f"{tmp}/{label}", schema=_schema(), axis="i",
            partitioning=zc.Sequence(("num",)), **kw)
        coll.insert(spark.createDataFrame(
            pdf, schema=coll.schema.to_struct_type()))
        files = glob.glob(f"{tmp}/{label}/num=0/*.parquet")
        # a 5% box predicate on each axis: which row groups could match?
        results[label] = (_overlap(files, "x", 40_000, 45_000),
                          _overlap(files, "y", 40_000, 45_000))
        # identical logical answers regardless of layout
        count = coll.query(where="x >= 40000 and x < 45000 and "
                                 "y >= 40000 and y < 45000").count()
        (xh, xt), (yh, yt) = results[label]
        print(f"{label:7s} box-match rows={count}  "
              f"row-groups overlapping: x={xh}/{xt} y={yh}/{yt}")

    # plain: every row group overlaps both predicates.  range: tight on
    # the leading column only.  zorder: bounded on BOTH.
    assert results["range"][0][0] < results["plain"][0][0]
    assert results["zorder"][1][0] < results["plain"][1][0]
    print("clustered layouts OK:", tmp)


if __name__ == "__main__":
    main()
