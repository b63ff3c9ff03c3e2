#!/usr/bin/env python3
"""Runs the benchmark over several seeds and writes a baseline JSON.

    python3 crawlbench/baseline.py --seeds 1-10 --trace-seeds 1-2 \\
        --out crawlbench/baseline/<date>-<head>.json

For every workload in BENCHMARK.json it runs `run.py --trace 0` once per seed
(workloads interleaved seed by seed, so host drift falls on both) and
`--trace 1` once per trace seed. It records every run's result line and wall
time, and per end-to-end metric the median, the quartiles, and their distance
as a share of the median next to the metric's bound. The tracing overhead is
the median traced crawl time minus the median untraced one.
"""
import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "crawlbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    print(f"{workload} seed={seed} trace={trace} run_s={wall:.1f} correct={result['correct']}",
          flush=True)
    return {"seed": seed, "run_s": round(wall, 3), **result}


def head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def summary(values, bound):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("nan")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "spread_below_third_of_bound": spread < bound / 3}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace-seeds", default="1")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {w: {"untraced": [], "traced": []} for w in names}
    for s in seeds(a.seeds):
        for w in names:
            runs[w]["untraced"].append(run(w, s, bench["run_seconds"], 0))
    for s in seeds(a.trace_seeds):
        for w in names:
            runs[w]["traced"].append(run(w, s, bench["run_seconds"], 1))

    report = {
        "date": datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%dT%H:%MZ"),
        "head": head(),
        "nproc": os.cpu_count(),
        "run_seconds": bench["run_seconds"],
        "workloads": {},
    }
    for w in names:
        untraced, traced = runs[w]["untraced"], runs[w]["traced"]
        e2e = {k: summary([r["metrics"][k]["value"] for r in untraced], bounds[k])
               for k in bounds}
        layers = {k: statistics.median(r["metrics"][k]["value"] for r in traced)
                  for k in traced[0]["metrics"]} if traced else {}
        overhead = (layers["trace.crawl_ms"] / 1000 - e2e["crawl_s"]["median"]
                    if traced else None)
        report["workloads"][w] = {
            "end_to_end": e2e,
            "per_layer_median": layers,
            "tracing_overhead_s": overhead,
            "all_correct": all(r["correct"] for r in untraced + traced),
            "runs": untraced + traced,
        }
        print(f"{w}:")
        for k, v in e2e.items():
            print(f"  {k:16s} median={v['median']:.4f} spread={v['spread']:.3f} "
                  f"bound={v['bound']}")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
