#!/usr/bin/env python3
"""Diffs two sets of traced-run artifacts layer by layer, per workload.

    python3 perfbench/layerdiff.py <before> <after> [--all]

Each side is an artifact file written by artifact.py or a directory of
them (e.g. perfbench/artifacts at two commits). Per workload it prints
every per-layer and end-to-end metric whose value changed: before,
after, the difference and the ratio. --all prints unchanged ones too.
"""
import argparse
import glob
import json
import os


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        with open(f) as fh:
            art = json.load(fh)
        out[art["workload"]] = art
    return out


def rows(art):
    for block in ("end_to_end", "per_layer"):
        for name, m in art.get(block, {}).items():
            yield block, name, m["value"], m["unit"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    a, b = load(args.before), load(args.after)
    for w in sorted(set(a) | set(b)):
        if w not in a or w not in b:
            print(f"== {w}: only in {'before' if w in a else 'after'}")
            continue
        after = {(blk, n): v for blk, n, v, _ in rows(b[w])}
        print(f"== {w}")
        print(f"{'metric':44} {'unit':>6} {'before':>14} {'after':>14} {'diff':>14} {'ratio':>7}")
        for blk, n, va, unit in rows(a[w]):
            vb = after.get((blk, n))
            if vb is None or (vb == va and not args.all):
                continue
            ratio = f"{vb / va:7.3f}" if va else "      -"
            tag = n if blk == "per_layer" else f"[e2e] {n}"
            print(f"{tag:44} {unit:>6} {va:14.4f} {vb:14.4f} {vb - va:14.4f} {ratio}")


if __name__ == "__main__":
    main()
