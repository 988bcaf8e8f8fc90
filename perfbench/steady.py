#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with its own seed,
and print every metric's median, quartiles and quartile spread (Q3 - Q1
as a share of the median), next to the bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --workload curate_index --runs 10 [--first-seed 1] [--trace 0]

Run from the repository root. The spreads are the evidence for the
bounds: a metric is steady when its spread stays below a third of its
bound. Each run's result line is appended to .perfbench/steady.jsonl.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values, bad = {}, 0
    log = os.path.join(ROOT, ".perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", str(a.trace)]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.monotonic() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}, no result", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(lines[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        if not res["correct"] or res["failed"]:
            bad += 1
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall={wall:.1f}s correct={res['correct']} attempted={res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              file=sys.stderr)
    print(f"{a.workload}: {a.runs} runs, {bad} incorrect or failed")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        print(f"{name:34} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.3f} "
              f"{'' if b is None else b:>6}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
