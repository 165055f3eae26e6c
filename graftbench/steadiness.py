#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

    python3 graftbench/steadiness.py [--workloads w1,w2] [--runs 5] [--seeds 1,2] [--traced 2]

For every workload it runs the benchmark `--runs` times on one seed, then
`--runs` times on the next seed in `--seeds`. For each seed and end-to-end
metric it prints the median and the quartile spread,
(Q3 - Q1) / median from statistics.quantiles(n=4), against the metric's
bound in BENCHMARK.json. It then makes `--traced` traced runs per seed and
checks that the per-operation Spark job counts (spark.jobs, plans.jobs)
repeat exactly at a fixed seed. Exits 1 when a run fails or is incorrect,
a spread exceeds its bound, or a job count differs.
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


def run(workload, seed, seconds, trace):
    t = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: exit {proc.returncode}", flush=True)
        return None, wall
    result = json.loads(lines[-1])
    return result, wall


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",")]
    ok = True
    for workload in a.workloads.split(","):
        for seed in seeds:
            print(f"{workload}, {a.runs} runs, seed {seed}", flush=True)
            results, walls = [], []
            for _ in range(a.runs):
                r, wall = run(workload, seed, a.seconds, 0)
                walls.append(wall)
                if r is None or not r["correct"] or r["failed"]:
                    ok = False
                    print(f"  seed {seed}: incorrect or failed result {r and {k: r[k] for k in ('correct', 'failed')}}")
                if r is not None:
                    results.append(r)
            print(f"  run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
            if len(results) < 4:
                print("  too few results for quartiles")
                ok = False
                continue
            for m in spec["end_to_end"]:
                med, s = spread([r["metrics"][m["name"]]["value"] for r in results])
                ok &= s <= m["bound"]
                flag = "ok" if s <= m["bound"] else "TOO WIDE"
                third = " (under a third)" if s <= m["bound"] / 3 else ""
                print(f"  {m['name']:18s} median {med:12.6g} {m['unit']:7s} spread {s:7.4f} "
                      f"bound {m['bound']:.2f} {flag}{third}")
        if a.traced:
            for seed in seeds:
                counts = []
                for _ in range(a.traced):
                    r, _ = run(workload, seed, a.seconds, 1)
                    if r is not None:
                        counts.append({k: r["metrics"][k]["value"] for k in ("spark.jobs", "plans.jobs",
                                                                             "trace.overhead_frac")})
                jobs = {(c["spark.jobs"], c["plans.jobs"]) for c in counts}
                same = len(jobs) == 1 and len(counts) == a.traced
                ok &= same
                print(f"{workload} seed {seed} traced: per-op (spark.jobs, plans.jobs) {sorted(jobs)} "
                      f"{'repeat exactly' if same else 'DIFFER'}; tracing overhead "
                      f"{[round(c['trace.overhead_frac'], 3) for c in counts]}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
