#!/usr/bin/env python3
"""Records the committed traced-run artifact of one workload.

    python3 perfbench/artifact.py --workload <name> --seed <n> --seconds <s>

Runs the benchmark untraced and then traced with the same seed, and
writes perfbench/artifacts/<workload>.json: the host and config record,
the end-to-end metrics of both runs, the tracing overhead (traced minus
untraced, per end-to-end metric), the per-layer metrics and the spans.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    e2e, e2e_traced = plain["end_to_end"], traced["end_to_end"]
    art = {
        "workload": args.workload,
        "host": plain["host"],
        "correct": plain["correct"] and traced["correct"],
        "attempted": plain["attempted"], "failed": plain["failed"],
        "details": plain["details"],
        "end_to_end": e2e,
        "end_to_end_traced": e2e_traced,
        "tracing_overhead": {k: {"value": e2e_traced[k]["value"] - v["value"],
                                 "unit": v["unit"]} for k, v in e2e.items()},
        "per_layer": traced["per_layer"],
        "run_id": traced["run_id"],
        "spans": traced["spans"],
    }
    os.makedirs(os.path.join(HERE, "artifacts"), exist_ok=True)
    with open(os.path.join(HERE, "artifacts", f"{args.workload}.json"), "w") as fh:
        json.dump(art, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
