#!/usr/bin/env python3
"""Run one workload on several seeds and print each end-to-end metric's
median and spread (interquartile range as a share of the median, as
statistics.quantiles(n=4) gives it).

    python3 perfbench/spread.py --workload analytics --runs 10 [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, ".work", "results",
                               f"{a.workload}-seed{seed}-trace0.json")) as f:
            host = json.load(f)["host"]
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()) +
              f" steal={host['steal_pct']}% load={host['load_avg_start']:.2f}/"
              f"{host['load_avg_end']:.2f}", flush=True)
        for k, v in r["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        ok = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:>18}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
              f"(bound {m['bound']}, third {m['bound'] / 3:.3f}) {ok}")


if __name__ == "__main__":
    main()
