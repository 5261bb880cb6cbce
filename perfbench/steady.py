#!/usr/bin/env python3
"""Steadiness mode: run each workload over several seeds and print, per
metric, the median, the quartiles, the spread (Q3 - Q1) / median and
the max/min ratio.

    python3 perfbench/steady.py --runs 10 --seconds 4 [--workloads a,b] [--trace 1] [--out FILE]

It runs perfbench/run.py once per (workload, seed), one run at a time,
and reads both the result line and the phase detail line of each run;
`detail.wall_s` is the run's whole wall time. --trace 1 makes traced
runs (their detail lines carry setup_s and round_s too, which gives
the tracing overhead). --out keeps the raw values as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def one(workload, seed, seconds, trace=0):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    detail = json.loads(lines[-2][len("detail "):])
    detail["wall_s"] = time.monotonic() - t0
    return json.loads(lines[-1]), detail


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else float("inf"),
            "max_min": max(values) / min(values) if min(values) else float("inf")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(bench.WORKLOADS))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    raw = {}
    for w in a.workloads.split(","):
        vals = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            res, detail = one(w, seed, a.seconds, a.trace)
            if not res["correct"]:
                raise SystemExit(f"{w} seed {seed}: a check failed")
            merged = {k: m["value"] for k, m in res["metrics"].items()}
            merged.update({f"detail.{k}": x for k, x in detail.items() if k not in merged})
            merged["attempted"] = res["attempted"]
            for k, x in merged.items():
                vals.setdefault(k, []).append(x)
            print(f"{w} seed {seed}: " + " ".join(f"{k}={x:.4g}" for k, x in merged.items()),
                  file=sys.stderr, flush=True)
        raw[w] = vals
        print(f"\n{w} ({a.runs} runs)")
        print(f"  {'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'max/min':>8s}")
        for k, xs in vals.items():
            s = summary(xs)
            print(f"  {k:34s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
                  f"{s['spread']:8.3f} {s['max_min']:8.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(raw, f, indent=1)


if __name__ == "__main__":
    main()
