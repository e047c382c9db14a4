#!/usr/bin/env python3
"""Diff two sets of traced benchmark records, workload by workload and layer by layer.

Usage:
    python3 perfbench/layer_diff.py <before> <after> [--all]

Each side is a traced run record (the .bench_build/perfbench/record-<workload>-1.json
a `--trace 1` run leaves) or a directory holding such records, one per workload.
For every workload present on both sides it prints each per-layer metric with
both values, the difference and the ratio, grouped by layer (the metric-name
prefix: driver, spark, plans, fs, streaming, ingest, operators, sources,
queries, trace). Metrics that are zero on both sides are hidden unless --all.
"""
import argparse
import glob
import json
import os
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "record-*-1.json"))) if os.path.isdir(path) else [path]
    records = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("layers"):
            sys.exit(f"{f}: not a traced record (run with --trace 1)")
        records[r["workload"]] = r
    if not records:
        sys.exit(f"{path}: no traced records")
    return records


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="also show metrics zero on both sides")
    args = ap.parse_args()
    a, b = load(args.before), load(args.after)
    for workload in sorted(set(a) | set(b)):
        if workload not in a or workload not in b:
            print(f"== {workload}: only in {'before' if workload in a else 'after'}")
            continue
        la, lb = a[workload]["layers"], b[workload]["layers"]
        print(f"== {workload} (seed {a[workload]['seed']} -> {b[workload]['seed']})")
        by_layer = {}
        for name in sorted(set(la) | set(lb)):
            by_layer.setdefault(name.split(".")[0], []).append(name)
        for layer, names in by_layer.items():
            rows = []
            for n in names:
                x, y = la.get(n, 0.0), lb.get(n, 0.0)
                if x == 0 and y == 0 and not args.all:
                    continue
                ratio = f"{y / x:.3f}x" if x else "new"
                rows.append(f"  {n:<44} {fmt(x):>12} {fmt(y):>12} {fmt(y - x):>12} {ratio:>8}")
            if rows:
                print(f"  {'[' + layer + ']':<44} {'before':>12} {'after':>12} {'delta':>12} {'ratio':>8}")
                print("\n".join(rows))


if __name__ == "__main__":
    main()
