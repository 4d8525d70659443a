"""Catalog commit and read cost against collection width.

Pure Python on ``LocalFS``, no Spark.  For each partition count it
builds a catalog of that many ``year=/month=/day=`` partitions, each
with zone-map statistics on ``--columns`` float columns, then times:

- the median of ``--reps`` one-partition ``Catalog.add`` calls (a
  republish with fresh statistics: read, rebuild, write, snapshot);
- one ``Catalog.read_doc``.

It prints one markdown row per partition count: the state document's
size, the commit median and the read.  The catalog lives in a
temporary directory that is removed afterwards.

Usage: python tools/catalog_cost.py [--partitions N ...] [--columns K]
                                    [--reps R]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zcollection_spark.collection.catalog import (  # noqa: E402
    CATALOG_RELPATH, Catalog)
from zcollection_spark.fs import LocalFS  # noqa: E402


def _relpaths(n: int) -> list[str]:
    day0 = dt.date(1900, 1, 1)
    out = []
    for i in range(n):
        d = day0 + dt.timedelta(days=i)
        out.append(f"year={d.year}/month={d.month}/day={d.day}")
    return out


def _entry(i: int, columns: int) -> dict:
    return {f"c{c}": [float(i) + c, float(i) + c + 0.5, i % 3]
            for c in range(columns)}


def measure(n: int, columns: int, reps: int) -> dict:
    with tempfile.TemporaryDirectory(prefix="catalog_cost_") as tmp:
        cat = Catalog(LocalFS(), tmp)
        rels = _relpaths(n)
        cat.write(rels, stats_map={rel: _entry(i, columns)
                                   for i, rel in enumerate(rels)})
        commits = []
        for r in range(reps):
            rel = rels[(r * 7919) % n]
            t0 = time.perf_counter()
            cat.add([rel], stats={rel: _entry(n + r, columns)})
            commits.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        doc = cat.read_doc()
        read_s = time.perf_counter() - t0
        assert doc is not None and len(doc["partitions"]) == n
        size = os.path.getsize(os.path.join(tmp, CATALOG_RELPATH))
    return {"partitions": n, "document_mb": size / 1e6,
            "commit_ms": statistics.median(commits) * 1e3,
            "read_ms": read_s * 1e3}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--partitions", type=int, nargs="+",
                    default=[365, 3650, 36500])
    ap.add_argument("--columns", type=int, default=4)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    print("| partitions | document | one-partition commit | one read |")
    print("|---|---|---|---|")
    for n in args.partitions:
        row = measure(n, args.columns, args.reps)
        print(f"| {n:,} | {row['document_mb']:.2f} MB "
              f"| {row['commit_ms']:.0f} ms | {row['read_ms']:.0f} ms |",
              flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
