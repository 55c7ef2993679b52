#!/usr/bin/env python3
"""Compares two result sets of the benchmark.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--top 8]

Each directory holds the records run.py saves (by default under
.bench_results/<workload>/). For every workload and end-to-end metric it
prints both sides' median and quartiles and a verdict against the bound in
BENCHMARK.json:

  worse        the new median is worse than the base median by more than the bound
  better       the new median is better by more than the base's own
               quartile spread, and by more than the bound
  unresolved   either side's quartile spread exceeds the bound
  same         otherwise

It then names the per-layer metrics (from traced runs) whose medians moved
most between the two sets.
"""
import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(d):
    """workload -> list of records."""
    out = defaultdict(list)
    for f in sorted(Path(d).rglob("*.json")):
        r = json.loads(f.read_text())
        if "workload" in r and "end_to_end" in r:
            out[r["workload"]].append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def verdict(base, new, better, bound):
    mb, mn = statistics.median(base), statistics.median(new)
    if mb == 0:
        return "same"
    gain = (mb - mn) / mb if better == "lower" else (mn - mb) / mb
    if gain < -bound:
        return "worse"
    if max(spread(base), spread(new)) > bound:
        return "unresolved"
    if gain > bound and gain > spread(base):
        return "better"
    return "same"


def main():
    ap = argparse.ArgumentParser(description="Compare two benchmark result sets.")
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    base, new = load(a.base), load(a.new)
    for w in sorted(set(base) | set(new)):
        b, n = base.get(w, []), new.get(w, [])
        print(f"== {w}: base {len(b)} runs, new {len(n)} runs")
        if not b or not n:
            continue
        print(f"  {'metric':32} {'base q1/med/q3':>30} {'new q1/med/q3':>30}  verdict")
        for m in spec["end_to_end"]:
            xb = [r["end_to_end"][m["name"]] for r in b if m["name"] in r["end_to_end"]]
            xn = [r["end_to_end"][m["name"]] for r in n if m["name"] in r["end_to_end"]]
            if not xb or not xn:
                continue
            fb = "/".join(f"{v:.4g}" for v in quartiles(xb))
            fn = "/".join(f"{v:.4g}" for v in quartiles(xn))
            print(f"  {m['name'] + ' (' + m['unit'] + ')':32} {fb:>30} {fn:>30}  "
                  f"{verdict(xb, xn, m['better'], m['bound'])}")
        lb = [r["per_layer"] for r in b if "per_layer" in r]
        ln = [r["per_layer"] for r in n if "per_layer" in r]
        if lb and ln:
            moves = []
            for k in lb[0]:
                mb = statistics.median(x[k] for x in lb)
                mn = statistics.median(x[k] for x in ln if k in x)
                if mb or mn:
                    # Relative to the larger side, so a metric that appears
                    # or vanishes reads as a full move (100%).
                    moves.append((abs(mn - mb) / max(abs(mb), abs(mn)), k, mb, mn))
            print("  per-layer metrics that moved most (base median -> new median):")
            for rel, k, mb, mn in sorted(moves, reverse=True)[:a.top]:
                print(f"    {k:32} {mb:>12.4g} -> {mn:<12.4g} moved {rel:.0%}")


if __name__ == "__main__":
    main()
