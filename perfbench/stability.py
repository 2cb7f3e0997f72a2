#!/usr/bin/env python3
"""Run workloads several times and print how much each metric spreads.

    python3 perfbench/stability.py                          # every workload once
    python3 perfbench/stability.py --workload mutate --runs 5  # seeds 1..5

For each workload: operations attempted and failed, the workload's own
figures (the line ``run.py`` prints before its result), and for every metric
its median, quartiles, IQR / median and (max - min) / median over the runs,
next to the bound ``BENCHMARK.json`` gives it.  ``--trace 1`` does the same
for the per-layer metrics.  Exits 1 if any run failed an operation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import load_benchmark  # noqa: E402
from samples import spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result, named) of one run of ``run.py``; raises if it failed."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2])["named"]


def _row(name: str, unit: str, values: list[float], bound) -> str:
    s = spread(values)
    b = f"{bound:.2f}" if bound is not None else "-"
    return (f"  {name:34s} {s['median']:12.4f} {unit:7s} q1 {s['q1']:11.4f} q3 {s['q3']:11.4f}"
            f"  iqr/med {s['iqr_share']:.3f}  range/med {s['range_share']:.3f}  bound {b}")


def main(argv=None) -> int:
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", action="append", choices=names)
    p.add_argument("--runs", type=int, default=1)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    bad = False
    for wl in args.workload or names:
        results, named = [], []
        for seed in range(1, args.runs + 1):
            r, n = run_once(wl, seed, bench["run_seconds"], args.trace)
            results.append(r)
            named.append(n)
            print(f"{wl} seed {seed}: " + json.dumps(r), flush=True)
            print(f"{wl} seed {seed} named: " + json.dumps(n), flush=True)
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        bad |= failed > 0 or not all(r["correct"] for r in results)
        print(f"{wl}: {len(results)} runs, attempted {attempted}, failed {failed}")
        for k, v in named[0].items():
            print(_row(k, v["unit"], [n[k]["value"] for n in named], None))
        for k, v in results[0]["metrics"].items():
            print(_row(k, v["unit"], [r["metrics"][k]["value"] for r in results], bounds.get(k)))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
