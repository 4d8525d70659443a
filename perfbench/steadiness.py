"""Repeat the benchmark over seeds and summarise each metric's spread.

Usage, from the repository root::

    python3 perfbench/steadiness.py --seeds 1-10 [--workload hive_rw ...]
        [--trace 0] [--out perfbench/results/steadiness.json]

Runs ``BENCHMARK.json``'s command once per (workload, seed), one run at
a time, and records per metric the median, the quartiles (Python's
``statistics.quantiles(values, n=4)``) and the spread (q3 - q1) /
median, next to its declared bound.  Each run's host record is kept,
so a noisy stretch of the host shows up beside the numbers.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(cmd: list[str], workload: str, seed: int, seconds: int,
             trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "error": proc.stderr[-2000:], "wall_s": wall}
    return {"seed": seed, "wall_s": wall,
            "host": json.loads(lines[-2])["host"],
            "result": json.loads(lines[-1])}


def summarise(runs: list[dict], bounds: dict) -> dict:
    values: dict[str, list[float]] = {}
    for run in runs:
        for name, m in run.get("result", {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vals in values.items():
        q1, med, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                       else (vals[0],) * 3)
        out[name] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None,
                     "bound": bounds.get(name)}
    return out


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound")
              for m in spec["end_to_end"] + spec["per_layer"]}
    report = {"run_seconds": spec["run_seconds"], "trace": args.trace,
              "workloads": {}}
    for wl in args.workload:
        runs = []
        for seed in seed_list(args.seeds):
            run = run_once(spec["command"], wl, seed, spec["run_seconds"],
                           args.trace)
            runs.append(run)
            res = run.get("result", {})
            print(f"{wl} seed={seed} wall={run['wall_s']:.1f}s "
                  f"correct={res.get('correct')} "
                  f"steal={run.get('host', {}).get('steal_frac', -1):.3f}",
                  file=sys.stderr)
        summary = summarise(runs, bounds)
        report["workloads"][wl] = {"summary": summary, "runs": runs}
        if args.out:  # after each workload, so a cut batch keeps its data
            args.out.parent.mkdir(parents=True, exist_ok=True)
            args.out.write_text(json.dumps(report, indent=1, default=str))
        for name, s in summary.items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"{wl:10s} {name:34s} median={s['median']:.4g} "
                  f"q1={s['q1']:.4g} q3={s['q3']:.4g} spread={spread} "
                  f"bound={s['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
