#!/usr/bin/env python3
"""Run a workload under several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload kg_toy --seeds 1 2 3 4 5 --seconds 10

For every metric prints the median and the interquartile range as a share
of the median (statistics.quantiles(values, n=4)), the steadiness figure a
bound in BENCHMARK.json is compared with, plus each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    values, walls, bad = {}, [], 0
    for seed in a.seeds:
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            bad += 1
            continue
        r = json.loads(lines[-1])
        if not r["correct"]:
            bad += 1
        print(f"seed {seed}: wall {walls[-1]:.1f} s correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']}", flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:28s} median {med:14.6g}  iqr/median {spread:7.4f}  min {min(vs):.6g} max {max(vs):.6g}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"runs not correct: {bad}")


if __name__ == "__main__":
    main()
