#!/usr/bin/env python3
"""Summarize a series of benchmark runs from their full per-op maps.

    python3 perfbench/summarize.py [.perfbench/out] > summary.json

For each workload: every end-to-end metric's median, quartiles and spread
(distance between the first and third quartile, as a share of the median,
as `statistics.quantiles(values, n=4)` gives them) over the untraced runs;
and the median of every per-layer metric and per-layer self time over the
traced runs. Seeds are listed, so a series can be repeated.
"""
import glob
import json
import os
import statistics
import sys


def spread(values):
    if len(values) < 2:
        return {"n": len(values), "median": values[0] if values else None}
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "min": min(values), "max": max(values)}


def main(out_dir):
    runs = [json.load(open(f)) for f in sorted(glob.glob(os.path.join(out_dir, "*.json")))]
    summary = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        s = {"seeds": [r["seed"] for r in plain], "traced_seeds": [r["seed"] for r in traced],
             "correct": all(not r["problems"] for r in plain + traced),
             "end_to_end": {k: spread([r["end_to_end"][k] for r in plain])
                            for k in (plain[0]["end_to_end"] if plain else {})},
             "extras": {k: spread([r["extras"][k] for r in plain if r["extras"].get(k) is not None])
                        for k in (plain[0]["extras"] if plain else {})}}
        if traced:
            s["per_layer"] = {k: statistics.median(r["per_layer"][k] for r in traced)
                              for k in traced[0]["per_layer"]}
            s["self_by_pass"] = [b for r in traced for b in r["self_by_pass"]]
        summary[w] = s
    json.dump(summary, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench", "out"))
