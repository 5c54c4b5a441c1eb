#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarise one.

    python3 perfbench/compare.py BASE [NEW] [--bench BENCHMARK.json]

BASE and NEW are result files written by run.py (``<build dir>/results/*.json``)
or directories of them. Runs are grouped by workload and by traced/untraced;
for every workload x metric the table gives each side's median and quartiles
(Python's ``statistics.quantiles(n=4)``), the spread (quartile distance over
the median), and, with two sets:

- wins: the share of pairs the new side wins, ties counting for neither.
  The k-th run of a seed on one side pairs with the k-th run of that seed
  on the other (runs in file-name order); when the sides share no seed,
  runs pair in order.
- verdict, for metrics with a bound in BENCHMARK.json:
  - ``improved``: at least ten pairs, the new side wins at least 9/10 of
    them, and the medians differ by more than the base's quartile distance;
  - ``worse``: the new median is worse than the base median by more than
    the bound;
  - ``unresolved``: the base's spread is wider than the bound, unless every
    new run is better than every base run;
  - ``within bound``: otherwise.

Runs stamped with a load above their core count are counted per group.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "metrics" in r and "meta" in r:
            runs.append(r)
    return runs


def groups(runs):
    out = {}
    for r in runs:
        key = (r["meta"]["workload"], bool(r["meta"]["trace"]))
        out.setdefault(key, []).append(r)
    return out


def stats(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def pairs(base, new):
    """The k-th run of a seed on one side pairs with the k-th run of that seed
    on the other; runs pair in order only when the sides share no seed."""
    def by_seed(runs):
        out = {}
        for r in runs:
            out.setdefault(r["meta"]["seed"], []).append(r)
        return out
    bs, ns = by_seed(base), by_seed(new)
    common = sorted(set(bs) & set(ns))
    if common:
        return [p for s in common for p in zip(bs[s], ns[s])]
    return list(zip(base, new))


def verdict(spec, b, n, base_vals, new_vals, wins, npairs):
    if spec is None or "bound" not in spec:
        return "-"
    lower = spec["better"] == "lower"
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    bmed, bq1, bq3 = b
    nmed = n[0]
    all_better = all(better(x, y) for x in new_vals for y in base_vals)
    if bmed and (bq3 - bq1) / abs(bmed) > spec["bound"] and not all_better:
        return "unresolved"
    if (npairs >= 10 and wins >= 0.9 and better(nmed, bmed)
            and abs(nmed - bmed) > (bq3 - bq1)):
        return "improved"
    worse_by = (nmed - bmed) if lower else (bmed - nmed)
    if bmed and worse_by > spec["bound"] * abs(bmed):
        return "worse"
    return "within bound"


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                   "..", "BENCHMARK.json"))
    a = ap.parse_args()
    specs = {}
    if os.path.exists(a.bench):
        with open(a.bench) as fh:
            bench = json.load(fh)
        for m in bench.get("end_to_end", []) + bench.get("per_layer", []):
            specs[m["name"]] = m
    base = groups(load(a.base))
    new = groups(load(a.new)) if a.new else {}
    if not base:
        print("no runs in", a.base, file=sys.stderr)
        return 2
    for key in sorted(base):
        wl, traced = key
        b_runs = base[key]
        n_runs = new.get(key, [])
        loaded = sum(1 for r in b_runs + n_runs if r["meta"].get("load_exceeds_cores"))
        print(f"\n## {wl} ({'traced' if traced else 'untraced'}): base {len(b_runs)} runs"
              + (f", new {len(n_runs)} runs" if a.new else "")
              + (f"; {loaded} runs with load above their cores" if loaded else ""))
        head = ["metric", "unit", "base median", "base q1..q3", "spread"]
        if a.new:
            head += ["new median", "new q1..q3", "delta", "wins", "verdict"]
        rows = [head]
        names = list(b_runs[0]["metrics"])
        for m in names:
            bv = [r["metrics"][m]["value"] for r in b_runs if m in r["metrics"]]
            b = stats(bv)
            unit = b_runs[0]["metrics"][m]["unit"]
            row = [m, unit, fmt(b[0]), f"{fmt(b[1])}..{fmt(b[2])}",
                   f"{(b[2] - b[1]) / abs(b[0]):.1%}" if b[0] else "-"]
            if a.new:
                nv = [r["metrics"][m]["value"] for r in n_runs if m in r["metrics"]]
                if not nv:
                    rows.append(row + ["-"] * 5)
                    continue
                n = stats(nv)
                spec = specs.get(m)
                wins, ps = None, []
                if spec and "better" in spec:
                    ps = [(x["metrics"][m]["value"], y["metrics"][m]["value"])
                          for x, y in pairs(b_runs, n_runs) if m in x["metrics"] and m in y["metrics"]]
                    lower = spec["better"] == "lower"
                    w = sum(1 for x, y in ps if (y < x if lower else y > x))
                    wins = w / len(ps) if ps else None
                row += [fmt(n[0]), f"{fmt(n[1])}..{fmt(n[2])}",
                        f"{(n[0] - b[0]) / abs(b[0]):+.1%}" if b[0] else "-",
                        f"{wins:.0%}" if wins is not None else "-",
                        verdict(spec, b, n, bv, nv, wins, len(ps))]
            rows.append(row)
        widths = [max(len(r[i]) for r in rows) for i in range(len(head))]
        for r in rows:
            print("  ".join(c.ljust(w) for c, w in zip(r, widths)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
