#!/usr/bin/env python3
"""Compares the end-to-end metrics of two sets of benchmark records,
such as a parent commit's runs and a change's runs of one workload.

Usage: python3 perfbench/compare.py A1.json [A2.json ...] -- B1.json [...]

Records are the .bench_build/results/<workload>-seed<n>-trace0.json
files run.py writes. The tool refuses (exit 3) when any two records
differ in a provenance field other than the commit and the seed:
cores, local[N], driver heap, JIT flags, Spark, JDK, scale factor,
workload or its key list. For each metric it prints both medians, their quartile
spreads and the ratio of the medians.
"""
import json
import sys

from statistics import median

import benchlib as bl


def refusals(a, b):
    """(field, value, value) for every provenance mismatch across all
    records of both sets, measured against the first record."""
    recs = a + b
    first = recs[0]["provenance"]
    return [(f, first.get(f), r["provenance"].get(f))
            for r in recs[1:] for f in bl.incomparable(first, r["provenance"])]


def compare(a, b):
    bad = refusals(a, b)
    if bad:
        raise SystemExit("compare: refusing, records differ in " +
                         ", ".join(f"{f} ({x} vs {y})" for f, x, y in bad))
    rows = []
    for m in a[0]["end_to_end"]:
        va = [r["end_to_end"][m][0] for r in a]
        vb = [r["end_to_end"][m][0] for r in b]
        ma, mb = median(va), median(vb)
        rows.append((m, a[0]["end_to_end"][m][1], ma,
                     bl.spread(va) if len(va) > 1 else 0.0,
                     mb, bl.spread(vb) if len(vb) > 1 else 0.0, mb / ma))
    return rows


def main():
    args = sys.argv[1:]
    if "--" not in args:
        sys.exit(__doc__)
    i = args.index("--")
    load = lambda ps: [json.loads(open(p).read()) for p in ps]  # noqa: E731
    a, b = load(args[:i]), load(args[i + 1:])
    if not a or not b:
        sys.exit(__doc__)
    try:
        rows = compare(a, b)
    except SystemExit as e:
        print(e, file=sys.stderr)
        sys.exit(3)
    print(f"{'metric':<14}{'unit':<6}{'median A':>12}{'iqr A':>8}"
          f"{'median B':>12}{'iqr B':>8}{'B/A':>8}")
    for m, u, ma, sa, mb, sb, r in rows:
        print(f"{m:<14}{u:<6}{ma:>12.4f}{sa:>8.3f}{mb:>12.4f}{sb:>8.3f}{r:>8.3f}")


if __name__ == "__main__":
    main()
