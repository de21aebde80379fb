#!/usr/bin/env python3
"""Runs one workload over several seeds and reports, per end-to-end
metric, the median and the inter-quartile spread as a share of the
median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds s]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    lo, _, hi = args.seeds.partition("-")
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(int(lo), int(hi or lo) + 1):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        sp = stats.spread(xs) if len(xs) >= 2 and statistics.median(xs) else 0.0
        print(f"{m['name']:20} median {statistics.median(xs):12.4f} {m['unit']:6} "
              f"spread {sp:.3f} bound {m['bound']} ({'ok' if sp <= m['bound'] / 3 else 'WIDE'})")


if __name__ == "__main__":
    main()
