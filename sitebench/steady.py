#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, per
workload and end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median, from
`statistics.quantiles(values, n=4)`), next to the metric's bound.

    python3 sitebench/steady.py OUT.jsonl [--runs 10] [--first-seed 1]
                                [--workload W ...]
    python3 sitebench/steady.py OUT.jsonl --report

Each run's result line is appended to OUT.jsonl, so a set can be
resumed or reported on later. A spread above a third of its bound is
flagged (setup_s excepted: only its median is compared across sets).
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


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(path):
    b = bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    ok = True
    for w in [x["name"] for x in b["workloads"]]:
        rs = [r for r in runs if r["workload"] == w and r["result"]]
        if not rs:
            continue
        failed = sum(r["result"]["failed"] for r in rs)
        print(f"{w}: {len(rs)} runs, {failed} failed operations, "
              f"run wall {min(r['wall'] for r in rs)}-{max(r['wall'] for r in rs)} s")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            spread = 0.0
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                spread = (q[2] - q[0]) / med
            flag = ""
            if name != "setup_s" and spread > bound / 3:
                flag = "  <-- above a third of the bound"
                ok = False
            print(f"  {name}: median {med:.4f}, spread {spread:.4f} (bound {bound}){flag}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    if not a.report:
        b = bench()
        workloads = a.workload or [x["name"] for x in b["workloads"]]
        for w in workloads:
            for seed in range(a.first_seed, a.first_seed + a.runs):
                t0 = time.time()
                p = subprocess.run(b["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(b["run_seconds"]), "--trace", "0"],
                                   cwd=ROOT, capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                rec = {"workload": w, "seed": seed, "wall": round(time.time() - t0, 1),
                       "rc": p.returncode, "result": result}
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(json.dumps(rec), flush=True)
    sys.exit(0 if report(a.out) else 1)


if __name__ == "__main__":
    main()
