#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads serve,mixed,analytics --seeds 1-10

For every workload and end-to-end metric: the median, the quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, next to the
metric's bound from BENCHMARK.json; plus the wall seconds of each run. The
report is printed as JSON and written to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_arg(s):
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default="serve,mixed,analytics")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steadiness.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in a.seeds:
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            wall = time.time() - t0
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}")
            res = json.loads(lines[-1])
            runs.append({"seed": seed, "wall_s": round(wall, 1), "detail": lines[:-1],
                         "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {seed}: {wall:.0f} s {res}", file=sys.stderr)
        metrics = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bounds[name]}
        report["workloads"][w] = {
            "runs": len(runs), "failed_ops": sum(r["failed"] for r in runs),
            "median_wall_s": statistics.median(r["wall_s"] for r in runs),
            "metrics": metrics, "per_run": runs}
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    summary = {w: {"median_wall_s": r["median_wall_s"], "failed_ops": r["failed_ops"],
                   **{n: round(m["spread"], 4) for n, m in r["metrics"].items()}}
               for w, r in report["workloads"].items()}
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
