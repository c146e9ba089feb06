#!/usr/bin/env python3
"""Compare two benchmark result sets (or summarise one).

    python3 perfbench/compare.py A [B]

A and B are directories of run records as perfbench/run.py saves them
(.bench_build/results/<workload>/*.json), or single record files. For
each workload and end-to-end metric it prints each side's median, first
and third quartile and the spread (Q3 - Q1) / median over the untraced
runs, and the change of B's median against A's. From the traced runs it
prints each per-layer counter's median on each side; values that repeat
exactly across a side's runs (job counts, shuffle bytes, files per
serve) are shown as counts.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def load(path):
    """{(workload, trace): [metrics dict]} from a record file or directory."""
    p = Path(path)
    files = [p] if p.is_file() else sorted(p.rglob("*.json"))
    runs = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        res = rec.get("result")
        if res and res.get("correct"):
            runs[(rec["workload"], rec["trace"])].append(
                {k: v["value"] for k, v in res["metrics"].items()} | {"_unit": {
                    k: v["unit"] for k, v in res["metrics"].items()}})
    return runs


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def fmt(x):
    return f"{x:.6g}"


def summary(runs, metric):
    vals = [r[metric] for r in runs if metric in r]
    if not vals:
        return None
    q1, med, q3 = quartiles(vals)
    return {"n": len(vals), "med": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "exact": len(vals) > 1 and len(set(vals)) == 1}


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    sides = [load(a) for a in argv[1:]]
    keys = sorted(set().union(*[s.keys() for s in sides]))
    for workload, trace in keys:
        side_runs = [s.get((workload, trace), []) for s in sides]
        metrics = sorted({m for runs in side_runs for r in runs for m in r if m != "_unit"})
        unit = {}
        for runs in side_runs:
            for r in runs:
                unit.update(r["_unit"])
        kind = "per-layer (traced)" if trace else "end-to-end"
        print(f"\n== {workload}: {kind}, runs: " + " vs ".join(str(len(r)) for r in side_runs))
        for m in metrics:
            s = [summary(runs, m) for runs in side_runs]
            if trace and all(x is None or x["q1"] == x["q3"] == 0 for x in s):
                continue  # a span this workload does not run
            cols = []
            for x in s:
                if x is None:
                    cols.append("-")
                elif trace and x["exact"]:
                    cols.append(f"count {fmt(x['med'])}")
                elif trace:
                    cols.append(f"med {fmt(x['med'])}")
                else:
                    cols.append(f"med {fmt(x['med'])} [{fmt(x['q1'])}, {fmt(x['q3'])}] "
                                f"spread {x['spread']:.3f}")
            delta = ""
            if len(s) == 2 and s[0] and s[1] and s[0]["med"]:
                delta = f"  change {100 * (s[1]['med'] / s[0]['med'] - 1):+.1f}%"
            print(f"  {m:44s} {unit.get(m, ''):10s} " + " | ".join(cols) + delta)


if __name__ == "__main__":
    main(sys.argv)
