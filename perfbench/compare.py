#!/usr/bin/env python3
"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--top 20]

Each set is a directory (or a list of files, comma-separated) of full
records as perfbench/run.py writes them under perfbench/.work/records.
For each workload and end-to-end metric of BENCHMARK.json this prints the
median and quartiles of each set, the spread (interquartile range over the
median) and whether the two sets agree: the new median is within the
metric's bound of the base median. It then prints the tracing overhead
(traced minus untraced medians within each set) and ranks the per-layer
metrics of the traced runs by the size of their change.
"""
import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(spec):
    paths = []
    for part in spec.split(","):
        if os.path.isdir(part):
            paths += glob.glob(os.path.join(part, "*.json"))
        else:
            paths += glob.glob(part)
    records = []
    for p in sorted(paths):
        with open(p) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            records.append(r)
    return records


def values(records, workload, trace, metric):
    return [r["metrics"][metric]["value"] for r in records
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]]


def summary(xs):
    """(median, q1, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else None
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q1, q3


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base` (negative
    when better)."""
    if base == 0:
        return 0.0
    d = (new - base) / abs(base)
    return d if better == "lower" else -d


def fmt(s):
    return "-" if s is None else f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=20, help="per-layer deltas to list")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.bench) as fh:
        bench = json.load(fh)
    base, new = load(args.base), load(args.new)
    workloads = [w["name"] for w in bench["workloads"]]

    print("== end-to-end (untraced runs): median [q1, q3]; spread = IQR/median")
    all_agree = True
    for w in workloads:
        for m in bench["end_to_end"]:
            a, b = values(base, w, 0, m["name"]), values(new, w, 0, m["name"])
            sa, sb = summary(a), summary(b)
            if sa is None or sb is None:
                print(f"{w:<16} {m['name']:<14} base n={len(a)} new n={len(b)}: not enough runs")
                all_agree = False
                continue
            spread_a = (sa[2] - sa[1]) / sa[0] if sa[0] else 0.0
            spread_b = (sb[2] - sb[1]) / sb[0] if sb[0] else 0.0
            worse = worse_by(sa[0], sb[0], m["better"])
            if max(spread_a, spread_b) > m["bound"]:
                verdict = "UNRESOLVED (spread above bound)"
                all_agree = False
            elif abs(worse) <= m["bound"]:
                verdict = "agree"
            else:
                verdict = "WORSE" if worse > 0 else "better"
                all_agree = False
            print(f"{w:<16} {m['name']:<14} {m['unit']:<4} base {fmt(sa)} n={len(a)} "
                  f"spread {spread_a:.3f} | new {fmt(sb)} n={len(b)} spread {spread_b:.3f} "
                  f"| worse by {worse:+.3f} (bound {m['bound']}) {verdict}")
    print("sets agree within bounds" if all_agree else "sets do NOT all agree within bounds")

    print("\n== tracing overhead: traced minus untraced medians, per set")
    for label, recs in (("base", base), ("new", new)):
        for w in workloads:
            for m in bench["end_to_end"]:
                t, u = values(recs, w, 1, m["name"]), values(recs, w, 0, m["name"])
                if t and u:
                    mt, mu = statistics.median(t), statistics.median(u)
                    print(f"{label:<5} {w:<16} {m['name']:<14} traced {mt:.4g} untraced {mu:.4g} "
                          f"diff {mt - mu:+.4g} {m['unit']}")

    print(f"\n== per-layer (traced runs), largest relative changes first (top {args.top})")
    rows = []
    for w in workloads:
        for m in bench["per_layer"]:
            a, b = values(base, w, 1, m["name"]), values(new, w, 1, m["name"])
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            if ma == 0 and mb == 0:
                continue
            rel = (mb - ma) / abs(ma) if ma else float("inf")
            rows.append((abs(rel), w, m["name"], m["unit"], ma, mb, rel))
    for _, w, name, unit, ma, mb, rel in sorted(rows, reverse=True)[: args.top]:
        print(f"{w:<16} {name:<40} {ma:.4g} -> {mb:.4g} {unit} ({rel:+.1%})")


if __name__ == "__main__":
    main()
