#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py <runs A> <runs B>

Each side is a directory (searched recursively) or a single file of run
records, the JSON files `run.py` writes to `.bench_build/records/<workload>/`.
Copy a checkout's records aside before measuring the other commit.

For every workload present on both sides it prints one row per end-to-end
metric: each side's median with its first and third quartile (as
`statistics.quantiles(values, n=4)` gives them), the change of the medians
as a share of A's median, and whether that change exceeds the metric's bound
from BENCHMARK.json. Then the per-layer metrics of the traced runs: each
side's median and the change, largest changes first (layers that read 0 on
both sides are left out). Box telemetry (calibration
loop seconds, cores other processes used) is printed for each side so a
contended set of runs shows; it never rescales a number.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def records(path):
    files = [path] if os.path.isfile(path) else glob.glob(
        os.path.join(path, "**", "*.json"), recursive=True)
    out = []
    for f in sorted(files):
        try:
            with open(f) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(r, dict) and "workload" in r and "end_to_end" in r:
            out.append(r)
    return out


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, statistics.median(vs), q3


def fmt(v):
    return f"{v:.4g}"


def main():
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    spec_file = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(spec_file) as f:
        spec = json.load(f)
    sides = {"A": records(args.a), "B": records(args.b)}
    workloads = sorted({r["workload"] for r in sides["A"]} & {r["workload"] for r in sides["B"]})
    if not workloads:
        sys.exit("no workload has runs on both sides")
    for w in workloads:
        runs = {s: [r for r in rs if r["workload"] == w] for s, rs in sides.items()}
        untraced = {s: [r for r in rs if not r.get("trace")] for s, rs in runs.items()}
        print(f"== {w}: A {len(untraced['A'])} runs, B {len(untraced['B'])} runs (untraced)")
        for s, rs in runs.items():
            calib = [r["calib_s"] for r in rs]
            amb = [max(p["ambient_cores"] for p in r["passes"]) for r in rs]
            print(f"   box {s}: calib_s median {fmt(statistics.median(calib))}, "
                  f"ambient cores max {fmt(max(amb))}")
        print(f"   {'metric':<14} {'A q1 / median / q3':>28} {'B q1 / median / q3':>28} {'change':>8}")
        for m in spec["end_to_end"]:
            vals = {s: [r["end_to_end"][m["name"]] for r in rs] for s, rs in untraced.items()}
            if not vals["A"] or not vals["B"]:
                continue
            qa, qb = quartiles(vals["A"]), quartiles(vals["B"])
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print(f"   {m['name']:<14} {' / '.join(fmt(v) for v in qa):>28} "
                  f"{' / '.join(fmt(v) for v in qb):>28} {change:>+8.1%}"
                  f"{'  WORSE than bound ' + str(m['bound']) if worse else ''}")
        traced = {s: [r for r in rs if r.get("trace")] for s, rs in runs.items()}
        if traced["A"] and traced["B"]:
            rows = []
            for m in spec["per_layer"]:
                a = statistics.median(r["layers"][m["name"]] for r in traced["A"])
                b = statistics.median(r["layers"][m["name"]] for r in traced["B"])
                if a == 0 and b == 0:
                    continue
                rel = (b - a) / abs(a) if a else float("inf") if b else 0.0
                rows.append((abs(rel), m, a, b, rel))
            print(f"   per layer (traced: A {len(traced['A'])}, B {len(traced['B'])} runs)")
            for _, m, a, b, rel in sorted(rows, key=lambda r: -r[0]):
                print(f"   {m['name']:<32} {fmt(a):>10} -> {fmt(b):<10} {m['unit']:<6} {rel:>+8.1%}")
        print()


if __name__ == "__main__":
    main()
