#!/usr/bin/env python3
"""Rank the calls of traced runs by their dominant layer.

Usage: python3 perfbench/report.py .bench_out/spans-*.json

Reads the span files that `run.py --trace 1` writes. For each call of
the traced pass, the layer that took most of its wall time is one of:
planning (Catalyst analysis, optimizer, physical planning), driver gap
(wall time with no Spark job running), task time (task run time over the
cores) or streaming commit (state store, offset and commit logs). Calls
are listed slowest first, then the layers are totalled. Standard library
only, so it runs anywhere the span files are.
"""
import json
import sys


def rows(paths):
    for p in paths:
        with open(p) as f:
            doc = json.load(f)
        for s in doc["spans"]:
            if "layers" in s:
                wall = (s["end_ms"] - s["start_ms"]) / 1e3
                layer, secs = max(s["layers"].items(), key=lambda kv: kv[1])
                yield doc["workload"], s["name"], wall, layer, secs, s["layers"]


def main(paths):
    if not paths:
        sys.exit(__doc__)
    table = sorted(rows(paths), key=lambda r: -r[2])
    print(f"{'workload':16s} {'call':30s} {'wall s':>8s}  dominant layer (s, share of wall)")
    for wl, name, wall, layer, secs, _ in table:
        share = secs / wall if wall else 0.0
        print(f"{wl:16s} {name:30s} {wall:8.3f}  {layer} ({secs:.3f}, {share:.0%})")
    totals, dominated = {}, {}
    for _, _, _, layer, _, layers in table:
        dominated[layer] = dominated.get(layer, 0) + 1
        for k, v in layers.items():
            totals[k] = totals.get(k, 0.0) + v
    print("\nlayer totals over all calls:")
    for k in sorted(totals, key=lambda k: -totals[k]):
        print(f"  {k:18s} {totals[k]:9.3f} s   dominant in {dominated.get(k, 0)} calls")


if __name__ == "__main__":
    main(sys.argv[1:])
