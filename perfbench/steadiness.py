#!/usr/bin/env python3
"""Steadiness check: runs the benchmark several times per workload, each
time with another seed, and reports for every end-to-end metric the
per-run values, the median, the quartiles and the spread (interquartile
distance as a share of the median) against the metric's bound.

Usage, from the repository root:

    python3 perfbench/steadiness.py --runs 10 [--workloads cascade,serve]
                                    [--first-seed 1] [--out FILE]

Each run also records its load average, steal time and GC time, which the
benchmark measures outside its timed ops, so that an outlier run can be
explained. With --out the report is written as JSON.
"""

import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    diag = next(json.loads(l.split(" ", 1)[1]) for l in lines
                if l.startswith("diagnostics "))
    return json.loads(lines[-1]), diag


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": spread, "bound": bound,
            "within_third_of_bound": spread < bound / 3}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            res, diag = run_once(w, seed, bench["run_seconds"])
            runs.append({"seed": seed, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "metrics": {m: v["value"] for m, v in res["metrics"].items()},
                         "loadavg_start": diag["loadavg_start"],
                         "loadavg_end": diag["loadavg_end"],
                         "steal_s": diag["steal_s"], "loop_gc_s": diag["loop_gc_s"],
                         "calibration_per_s": diag["calibration_per_s"],
                         "op_s": diag["op_s"], "wall_s": diag["wall_s"]})
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={v:.4g}" for m, v in runs[-1]["metrics"].items())
                + f" steal={diag['steal_s']:.2f}s load={diag['loadavg_start'][0]}",
                flush=True)
        metrics = {d["name"]: summarize([r["metrics"][d["name"]] for r in runs],
                                        d["bound"])
                   for d in bench["end_to_end"]}
        report["workloads"][w] = {"runs": runs, "metrics": metrics}
        for m, s in metrics.items():
            print(f"  {w:10s} {m:18s} median {s['median']:.5g} spread "
                  f"{s['spread']:.4f} bound {s['bound']} "
                  f"{'ok' if s['within_third_of_bound'] else 'WIDE'}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
