"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are timed here, around the benchmark's own calls into each layer
(open, query plan, optimize, execute, insert, operator build); nothing
inside ``zcollection_spark`` is modified.  Two wrappers are installed
for the traced window and removed afterwards: ``CountingFS`` around
every metadata filesystem the collections build (exact op counts), and
a hit counter around ``ZarrCollection.to_df`` (the plan cache).  The
window alternates traced and plain blocks with the wrappers in place;
only the ops of traced blocks are recorded.

After each op the tracer reads Spark's status tracker and the local
REST API (``/jobs``, ``/stages``, ``/sql?details=true``) for the op's
job group; before each op it notes how many SQL executions there are.
Those reads happen outside the op's clock and are timed separately, so
the op latencies of the traced run carry the span bookkeeping but not
the REST reads.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import re
import time
import urllib.request
from collections import Counter

FS_OPS = ("head", "get", "put", "list", "rename", "mkdirs", "delete")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsIn",
                "MapInPandas", "MapInArrow", "PythonDataSource",
                "BatchScan")
_UNITS_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def _parse_time_ms(text: str) -> float:
    """SQL-metric timing text: ``"12 ms"`` or the task-summary form
    ``"total (min, med, max ...)\\n1.2 s (...)"``: the total."""
    line = text.splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", line)
    return float(m.group(1).replace(",", "")) * _UNITS_MS[m.group(2)] \
        if m else 0.0


def _parse_count(text: str) -> float:
    line = text.splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+)", line)
    return float(m.group(1).replace(",", "")) if m else 0.0


def _gmt(stamp: str) -> float:
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT") \
        .replace(tzinfo=dt.timezone.utc).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans and counters of one traced window, kept in memory."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self.api = (f"{sc.uiWebUrl}/api/v1/applications/"
                    f"{sc.applicationId}")
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.per_op: list[dict] = []
        self.fs_probes: list = []
        self._restore: list = []
        self._sql_seen = 0
        self._op = None

    # -- wrappers -----------------------------------------------------
    def install(self) -> None:
        from zcollection_spark import fs as fsmod
        from zcollection_spark.fs import CountingFS
        from zcollection_spark.zarr3 import collection as zmod

        probes = self.fs_probes

        def counting(real):
            def fs_for(path, spark=None):
                probe = CountingFS(real(path, spark))
                probes.append(probe)
                return probe
            return fs_for

        for mod in (fsmod, zmod):
            self._restore.append((mod, "fs_for", mod.fs_for))
            mod.fs_for = counting(mod.fs_for)

        real_to_df = zmod.ZarrCollection.to_df
        tracer = self

        def to_df(coll, *args, **kwargs):
            before = {id(df) for df in coll._df_cache.values()}
            df = real_to_df(coll, *args, **kwargs)
            if tracer._op is not None:  # inside a traced op
                tracer.counts["zarr3.to_df_calls"] += 1
                tracer.counts["zarr3.to_df_hits"] += id(df) in before
            return df

        self._restore.append((zmod.ZarrCollection, "to_df", real_to_df))
        zmod.ZarrCollection.to_df = to_df

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._restore):
            setattr(owner, name, value)
        self._restore.clear()

    def fs_counts(self) -> Counter:
        total = Counter()
        for probe in self.fs_probes:
            total.update(probe.counts)
        return total

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Time a call into a layer; the wall-clock bounds let the
        Spark job intervals (REST, wall clock) be clipped to it."""
        t0, w0 = time.perf_counter(), time.time()
        try:
            yield
        finally:
            self.spans.append({"op": self._op, "name": name,
                               "ms": 1000.0 * (time.perf_counter() - t0),
                               "wall": (w0, time.time())})

    def begin_op(self, index: int, kind: str, name: str) -> None:
        t0 = time.perf_counter()
        self._op = index
        self._fs_before = self.fs_counts()
        # skip the SQL executions of the plain blocks since the last op
        self._sql_seen = self._sql_count()
        self.counts["harvest_ms"] += 1000.0 * (time.perf_counter() - t0)
        self.spark.sparkContext.setJobGroup(f"bench-op-{index}",
                                            f"{kind}:{name}")

    def end_op(self, index: int, kind: str, name: str) -> None:
        """Harvest Spark's view of the op that just finished."""
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {"op": index, "kind": kind, "name": name,
               "fs": dict(self.fs_counts() - self._fs_before)}
        job_ids = list(sc.statusTracker()
                       .getJobIdsForGroup(f"bench-op-{index}"))
        jobs = [self._get(f"/jobs/{j}") for j in job_ids]
        intervals, stages = [], []
        for job in jobs:
            if job.get("submissionTime") and job.get("completionTime"):
                intervals.append((_gmt(job["submissionTime"]),
                                  _gmt(job["completionTime"])))
            for sid in job.get("stageIds", ()):
                for attempt in self._get(f"/stages/{sid}") or ():
                    if attempt.get("status") in ("COMPLETE", "FAILED"):
                        stages.append(attempt)
        rec["jobs"] = len(jobs)
        rec["job_wall_ms"] = 1000.0 * _union_s(intervals)
        rec["job_intervals"] = intervals
        rec["stages"] = len(stages)
        rec["tasks"] = sum(s["numTasks"] for s in stages)
        rec["exec_ms"] = sum(s["executorRunTime"] for s in stages)
        rec["executor_cpu_ms"] = sum(s["executorCpuTime"]
                                     for s in stages) / 1e6
        rec["gc_ms"] = sum(s["jvmGcTime"] for s in stages)
        rec["shuffle_read_bytes"] = sum(s["shuffleReadBytes"]
                                        for s in stages)
        rec["shuffle_write_bytes"] = sum(s["shuffleWriteBytes"]
                                         for s in stages)
        rec["spill_bytes"] = sum(s["memoryBytesSpilled"]
                                 + s["diskBytesSpilled"] for s in stages)
        rec["task_skew"] = self._skew(stages)
        rec.update(self._sql_metrics())
        self.per_op.append(rec)
        self._op = None
        self.counts["harvest_ms"] += 1000.0 * (time.perf_counter() - t0)

    # -- REST ---------------------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def _sql_count(self) -> int:
        return len(self._get("/sql?details=false&offset=0&length=100000"))

    def _skew(self, stages: list[dict]) -> float:
        """max/median task run time of the op's slowest stage."""
        if not stages:
            return 0.0
        worst = max(stages, key=lambda s: s["executorRunTime"])
        q = self._get(f"/stages/{worst['stageId']}/{worst['attemptId']}"
                      f"/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med else 1.0

    def _sql_metrics(self) -> dict:
        execs = self._get(f"/sql?details=true&offset={self._sql_seen}"
                          f"&length=1000")
        self._sql_seen += len(execs)
        out = Counter()
        for ex in execs:
            for node in ex.get("nodes", ()):
                name = node["nodeName"]
                metrics = {m["name"]: m["value"]
                           for m in node.get("metrics", ())}
                if "Scan" in name.split(" ")[0]:
                    out["scan_rows"] += _parse_count(
                        metrics.get("number of output rows", "0"))
                    out["files_read"] += _parse_count(
                        metrics.get("number of files read", "0"))
                if name.startswith(PYTHON_NODES):
                    out["python_udf_ms"] += _parse_time_ms(
                        metrics.get("time to run Python workers", "0 ms"))
        return dict(out)

    # -- summary ------------------------------------------------------
    def span_ms(self, name: str) -> list[float]:
        return [s["ms"] for s in self.spans if s["name"] == name]

    def outside_jobs_ms(self, name: str) -> list[float]:
        """Per span ``name``: its time with no Spark job of its op
        running (the span minus the op's job intervals clipped to it)."""
        by_op = {r["op"]: r["job_intervals"] for r in self.per_op}
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            a, b = s["wall"]
            clipped = [(max(x, a), min(y, b))
                       for x, y in by_op.get(s["op"], ())
                       if min(y, b) > max(x, a)]
            out.append(max(s["ms"] - 1000.0 * _union_s(clipped), 0.0))
        return out

    def dump(self) -> dict:
        return {"spans": self.spans, "ops": self.per_op,
                "counts": dict(self.counts)}
