#!/usr/bin/env python3
"""Repeat benchmark runs over seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/spread.py --seeds 1-10 --out spread.json

It runs every workload of BENCHMARK.json (or those given with --workloads)
once per seed, untraced (`--trace 0`). For every workload and metric it
prints the median and the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to the
metric's bound from BENCHMARK.json. Every run's full result is written to
`--out`, so all runs are disclosed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", help="comma-separated; default: all of BENCHMARK.json")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = []
    for w in workloads:
        for s in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except ValueError:
                res = None
            runs.append({"workload": w, "seed": s, "exit": p.returncode, "wall_s": round(wall, 1), "result": res})
            print(f"{w} seed={s} exit={p.returncode} wall={wall:.1f}s", file=sys.stderr)
            with open(a.out, "w") as f:
                json.dump({"runs": runs}, f, indent=1)
    summary = {}
    for w in workloads:
        rs = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        names = sorted({k for r in rs for k in r["metrics"]})
        for n in names:
            vals = [r["metrics"][n]["value"] for r in rs if n in r["metrics"] and r["metrics"][n]["value"] is not None]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            summary.setdefault(w, {})[n] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                            "bound": bounds.get(n)}
            b = bounds.get(n)
            flag = "" if b is None else ("ok" if spread <= b / 3 else ("within bound" if spread <= b else "OVER"))
            print(f"{w:10s} {n:34s} median={med:<14.6g} spread={spread:7.4f} bound={b} {flag}")
    with open(a.out, "w") as f:
        json.dump({"runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
