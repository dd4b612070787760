#!/usr/bin/env python3
"""Steadiness record: run every benchmark workload with several seeds.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/records/steadiness.json

For each end-to-end metric it records the values, their median and
quartiles (`statistics.quantiles(values, n=4)`), and the spread
(q3 - q1) / median against the metric's bound in BENCHMARK.json. With
`--traced` it adds one traced run per workload: its per-layer metrics and,
for registry workloads, the tracing overhead (traced minus untraced
registry total); the traced layer files are copied next to the record. `--cpus 1 --workloads cdc_stream` gives the
single-threaded reference run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run_once(workload, seed, seconds, trace, cpus):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1]), wall


def summarize(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else 0.0
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "within_bound": bound is None or spread <= bound,
            "within_third_of_bound": bound is None or spread <= bound / 3,
            "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    record = {"run_seconds": seconds, "cpus": a.cpus or len(os.sched_getaffinity(0)),
              "runs": a.runs, "workloads": {}}
    for w in workloads:
        results, walls = [], []
        for i in range(a.runs):
            r, wall = run_once(w, a.first_seed + i, seconds, 0, a.cpus)
            results.append(r)
            walls.append(wall)
            print(f"{w} seed {a.first_seed + i}: {wall:.1f}s correct={r['correct']}",
                  file=sys.stderr)
        entry = {"seeds": list(range(a.first_seed, a.first_seed + a.runs)),
                 "correct": all(r["correct"] for r in results),
                 "failed": sum(r["failed"] for r in results),
                 "wall_s": summarize(walls, None), "metrics": {}}
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            entry["metrics"][name] = dict(unit=results[0]["metrics"][name]["unit"],
                                          **summarize(vals, bounds.get(name)))
        if a.traced:
            seed = a.first_seed + a.runs
            r, _ = run_once(w, seed, seconds, 1, a.cpus)
            traced = {k: v["value"] for k, v in r["metrics"].items()}
            entry["traced"] = {"seed": seed, "correct": r["correct"], "metrics": traced}
            lf = os.path.join(BENCH, "out", f"layers-{w}-seed{seed}.json")
            with open(lf) as f:
                detail = json.load(f)["detail"]
            os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
            shutil.copy(lf, os.path.dirname(os.path.abspath(a.out)))
            if "per_query_s" in detail:
                k = len(detail["per_query_s"])
                untraced = statistics.median(
                    k / r0["metrics"]["ops_per_s"]["value"] for r0 in results)
                entry["traced"]["registry_total_s"] = traced["trace.registry_total_s"]
                entry["traced"]["untraced_registry_total_s"] = untraced
                entry["traced"]["tracing_overhead_s"] = traced["trace.registry_total_s"] - untraced
        record["workloads"][w] = entry
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)
    for w, e in record["workloads"].items():
        for name, m in e["metrics"].items():
            print(f"{w:18s} {name:14s} median {m['median']:12.3f}  spread {m['spread']:.3f}"
                  f"  bound {m['bound']}", file=sys.stderr)


if __name__ == "__main__":
    main()
