"""Closed-loop, single-client benchmark of zcollection_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload hive_rw --seed 1 --seconds 10 \\
        --trace 0

Workloads: ``hive_rw`` (parquet Date("D") collection: reads + upserts),
``zarr_rw`` (the same schedule over the zarr3 layout) and ``operators``
(registry operators over generated tables).  See ``LAYERS.md`` for what
each one stresses and how the metrics map onto the package's layers.

The run builds its inputs from ``--seed``, sets up three times (the
median counts), warms up on a fixed number of whole schedule blocks
(``Workload.warm_blocks``), then times whole blocks for about
``--seconds``.  Times are taken net of the
hypervisor's steal (``hostprobe.net_of_steal``); the host record keeps
the plain wall figures beside them.  Every op's output is checked after
the timed window.  The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1`` (a
window of alternating plain and traced blocks).  The line before it is
the host record.  Everything the run writes lives under
``.bench_work/`` in the repository root and is removed at exit, except
a traced run's spans and per-op Spark records, which it writes out to
``.bench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("hive_rw", "zarr_rw", "operators")
REQUIRED = ("zcollection_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py")
DRIVER_MEMORY = "1g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Spark local[nproc], and every scratch path inside ``work``."""
    conf = work / "conf"
    tmp = work / "tmp"
    for d in (conf, tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    (conf / "spark-defaults.conf").write_text(
        f"spark.ui.showConsoleProgress false\n"
        f"spark.sql.warehouse.dir {work / 'warehouse'}\n"
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
        f"-XX:-UsePerfData -Dderby.system.home={work}\n")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_CONF_DIR=str(conf),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable)
    os.chdir(work)


def make_workload(name: str, spark, work: Path, seed: int):
    import workloads
    if name == "operators":
        return workloads.OperatorsWorkload(spark, work, seed)
    layout = "hive" if name == "hive_rw" else "zarr"
    return workloads.RWWorkload(spark, work, seed, layout)


def run_window(wl, seconds: float, window: str, tracer=None) -> dict:
    """Whole blocks until ``seconds`` have passed and at least
    ``wl.min_blocks`` ran, so the per-kind op mix is exact.  Wall, wall
    net of steal and process-tree CPU are kept per block: the throughput
    and cost metrics are block medians, which a burst in one block does
    not move.  With a ``tracer`` the window is twice as long and traces
    every other pair of blocks (plain, traced, traced, plain, ...), so
    a drift within the window weighs on both kinds alike."""
    import hostprobe
    host = hostprobe.HostWindow()
    first = len(wl.ops)
    blocks = []
    n_min = wl.min_blocks * (2 if tracer else 1)
    while len(blocks) < n_min \
            or sum(b["wall_s"] for b in blocks) < seconds:
        traced = tracer is not None and len(blocks) % 4 in (1, 2)
        start = len(wl.ops)
        sw = hostprobe.Stopwatch()
        wl.run_block(window, tracer if traced else None)
        blocks.append({**sw.stop(), "traced": traced,
                       "op_net_s": sum(o.net_s for o in wl.ops[start:])})
    return {"ops": wl.ops[first:], "blocks": blocks,
            "block_ops": (len(wl.ops) - first) // len(blocks),
            "wall_s": sum(b["wall_s"] for b in blocks),
            **host.fractions()}


def window_metrics(win: dict, key: str) -> dict:
    """Throughput and latency of a window from one clock: ``net_s``
    (wall net of steal) or ``wall_s`` (plain wall)."""
    lat = "net_s" if key == "net_s" else "lat_s"
    reads = [1000.0 * getattr(o, lat) for o in win["ops"]
             if o.kind == "read"]
    writes = [1000.0 * getattr(o, lat) for o in win["ops"]
              if o.kind == "write"]
    return {"ops_per_s": win["block_ops"] / statistics.median(
                b[key] for b in win["blocks"]),
            "read_p50_ms": statistics.median(reads),
            "write_p50_ms": statistics.median(writes)}


def read_p90(win: dict) -> dict:
    """p90 of the read latencies net of steal, with its sample count.
    A window holds 6-9 reads, so at most one lies beyond it: too few
    for a steady figure, so it is in the host record only."""
    reads = [1000.0 * o.net_s for o in win["ops"] if o.kind == "read"]
    return {"value": statistics.quantiles(reads, n=10,
                                          method="inclusive")[8],
            "unit": "ms", "reads": len(reads)}


def end_to_end(wl, win: dict, setup_s: float, peak_rss: float) -> dict:
    units = {"ops_per_s": "1/s", "read_p50_ms": "ms", "write_p50_ms": "ms"}
    m = {"setup_s": (setup_s, "s"),
         **{k: (v, units[k])
            for k, v in window_metrics(win, "net_s").items()},
         "cpu_ms_per_op": (1000.0 * statistics.median(
             b["cpu_s"] for b in win["blocks"]) / win["block_ops"], "ms"),
         "peak_rss_mb": (peak_rss, "MB"),
         "bytes_per_user_byte": (wl.bytes_per_user_byte(), "ratio")}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def op_medians(ops) -> dict:
    """Median latency net of steal per op name: the per-kind view of a
    window."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.name, []).append(1000.0 * o.net_s)
    return {k: statistics.median(v) for k, v in by.items()}


def per_layer(wl, tracer, win: dict) -> dict:
    from tracer import FS_OPS
    recs = tracer.per_op
    reads = [r for r in recs if r["kind"] == "read"]
    writes = [r for r in recs if r["kind"] == "write"]
    n_ops, n_w = max(len(recs), 1), max(len(writes), 1)

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    def per_op(key, rs=recs):
        return mean([r.get(key, 0.0) for r in rs])

    traced_ops = {r["op"] for r in recs}
    matched = sum(wl.rows_matched(o) for i, o in enumerate(wl.ops)
                  if i in traced_ops and o.kind == "read")
    scanned = sum(r.get("scan_rows", 0.0) for r in reads)
    calls = tracer.counts["zarr3.to_df_calls"]
    fs = {op: sum(r["fs"].get(op, 0) for r in writes) / n_w
          for op in FS_OPS}
    op_time = {kind: statistics.median(
        b["op_net_s"] for b in win["blocks"] if b["traced"] == kind)
        for kind in (False, True)}
    m = {
        "collection.open_ms": (mean(tracer.span_ms("collection.open")),
                               "ms"),
        "collection.query_plan_ms": (
            mean(tracer.span_ms("collection.query_plan")), "ms"),
        "collection.insert_driver_ms": (
            mean(tracer.outside_jobs_ms("collection.insert")), "ms"),
        "partitioning.files_read": (
            per_op("files_read", reads) if wl.layout else 0.0, "count"),
        "partitioning.read_amplification": (
            scanned / matched if matched else 0.0, "ratio"),
        **{f"fs.{op}_per_write": (fs[op], "count") for op in FS_OPS},
        "zarr3.plan_cache_hit_ratio": (
            tracer.counts["zarr3.to_df_hits"] / calls if calls else 0.0,
            "ratio"),
        "zarr3.scan_python_ms": (
            per_op("exec_ms", reads) if wl.layout == "zarr" else 0.0,
            "ms"),
        "zarr3.write_task_ms": (
            per_op("python_udf_ms", writes) if wl.layout == "zarr"
            else 0.0, "ms"),
        "functions.build_ms": (mean(tracer.span_ms("functions.build")),
                               "ms"),
        "spark.optimize_ms": (mean(tracer.span_ms("spark.optimize")),
                              "ms"),
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.exec_ms": (per_op("job_wall_ms"), "ms"),
        "spark.executor_cpu_ms": (per_op("executor_cpu_ms"), "ms"),
        "spark.gc_ms": (per_op("gc_ms"), "ms"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"),
                                     "bytes"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"),
                                      "bytes"),
        "spark.spill_bytes": (per_op("spill_bytes"), "bytes"),
        "spark.task_skew": (per_op("task_skew"), "ratio"),
        "spark.python_udf_ms": (per_op("python_udf_ms"), "ms"),
        "spark.collect_ms": (mean(tracer.outside_jobs_ms("spark.execute")),
                             "ms"),
        "host.steal_frac": (win["steal_frac"], "frac"),
        "host.busy_frac": (win["busy_frac"], "frac"),
        "trace.overhead_pct": (
            100.0 * (op_time[True] / op_time[False] - 1.0), "%"),
        "trace.harvest_ms_per_op": (
            tracer.counts["harvest_ms"] / n_ops, "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process the JVM
    started (the Python daemon and workers) to end."""
    import hostprobe
    from pyspark import SparkContext
    pids = [p for p in hostprobe.tree_pids() if p != os.getpid()]
    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in pids:
            while hostprobe.alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if hostprobe.alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds through the cleanup below like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"not a zcollection_spark checkout ({ROOT}): missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path[:0] = [str(ROOT), str(HERE)]
    import hostprobe
    init_sw = hostprobe.Stopwatch(cpu=False)
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = None
    try:
        prepare_env(work)
        import zcollection_spark as zc
        if not Path(zc.__file__).resolve().is_relative_to(ROOT):
            raise SystemExit(f"zcollection_spark imported from "
                             f"{zc.__file__}, not from {ROOT}")
        spark = zc.get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        wl = make_workload(args.workload, spark, work, args.seed)
        init = init_sw.stop()

        builds = []
        for i in range(3):
            sw = hostprobe.Stopwatch(cpu=False)
            wl.build(i)
            builds.append(sw.stop())
        wl.ready()
        warm = wl.warm_up()
        # each stage net of the steal inside it, like the window's ops
        setup_s = (init["net_s"]
                   + statistics.median(b["net_s"] for b in builds)
                   + sum(b["net_s"] for b in warm))

        tracer = None
        if args.trace:
            from tracer import Tracer
            tracer = Tracer(spark)
            tracer.install()
            try:
                wl.reopen()
                win = run_window(wl, args.seconds, "traced", tracer)
            finally:
                tracer.uninstall()
            traces = ROOT / ".bench_work" / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{args.workload}-seed{args.seed}.json").write_text(
                json.dumps(tracer.dump()))
        else:
            win = run_window(wl, args.seconds, "plain")
        peak_rss = hostprobe.tree_peak_rss_mb()
        t0 = time.perf_counter()
        correct = wl.check()
        check_s = time.perf_counter() - t0
        timed = [o for o in wl.ops if o.window]
        failed = sum(not o.ok for o in timed)
        host = hostprobe.host_record(args.seed, spark)
        host.update(
            workload=args.workload, steal_frac=win["steal_frac"],
            busy_frac=win["busy_frac"], fail_frac=failed / len(timed),
            ops=len(win["ops"]), init=init, builds=builds, warm=warm,
            blocks=[{k: v for k, v in b.items() if k != "op_net_s"}
                    for b in win["blocks"]],
            window_s=win["wall_s"], check_s=check_s,
            # the latency figures on the plain wall clock, steal included
            wall=window_metrics(win, "wall_s"), read_p90_ms=read_p90(win),
            op_p50_ms=op_medians(win["ops"]),
            final_state_ok=wl.final_ok,
            failures=[f"{o.name}{o.params}: {o.error or 'mismatch'}"
                      for o in timed if not o.ok][:10])
        metrics = (per_layer(wl, tracer, win) if args.trace
                   else end_to_end(wl, win, setup_s, peak_rss))
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        stop_s = time.perf_counter() - t0
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    host.update(stop_s=stop_s, total_s=time.perf_counter() - t_start)
    print(json.dumps({"host": host}))
    print(json.dumps({"correct": bool(correct) and failed == 0,
                      "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
