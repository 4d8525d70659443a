"""Collection quick-start: create → insert → query → merge.

The Spark-native analog of the reference's README quick-start
(``/root/reference/README.rst:85-140``) and ``examples/ex_collection.py``.
Run: ``python examples/ex_collection.py``
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


def main() -> None:
    spark = zc.get_spark("ex-collection")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="zcs_ex_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    # 1. declare a schema bound to an unbounded time axis
    schema = (zc.SchemaBuilder()
              .add_dimension("time")                # unbounded axis
              .add_dimension("x_ac", size=4)
              .add_variable("time", "datetime64[us]", ("time",))
              .add_variable("ssh", "float32", ("time", "x_ac"))
              .build())

    # 2. create a collection partitioned by month
    coll = zc.create_collection(
        spark, f"{root}/altimetry", schema=schema, axis="time",
        partitioning=zc.Date(("time",), resolution="M"))

    # 3. insert a dataset (any DataFrame with the declared columns)
    times = pd.date_range("2024-01-01", periods=120, freq="6h")
    pdf = pd.DataFrame({
        "time": times,
        "ssh": [np.random.default_rng(i).normal(size=4).astype("f4").tolist()
                for i in range(len(times))]})
    coll.insert(spark.createDataFrame(pdf))
    print("partitions:", coll.partitions())

    # 4. pruned + projected query (the filter language of the reference)
    df = coll.query(filters="year == 2024 and month == 1",
                    variables=["time", "ssh"])
    print("january rows:", df.count())

    # 5. upsert a correction batch
    fix = pdf.iloc[:4].copy()
    fix["ssh"] = [[0.0, 0.0, 0.0, 0.0]] * 4
    coll.insert(spark.createDataFrame(fix), merge="upsert")
    print("after upsert:", coll.query().count(), "rows (unchanged count)")

    # 6. per-partition map
    stats = coll.map(
        lambda p: pd.DataFrame({"month": [int(p['month'].iloc[0])],
                                "n": [len(p)]}),
        "month long, n long")
    stats.show()
    spark.stop()


if __name__ == "__main__":
    main()
