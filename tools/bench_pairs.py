#!/usr/bin/env python3
"""Pair two sets of perfbench records and judge each end-to-end metric.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]
                                 [--trace 0|1] [--workload NAME]
                                 [--layer NAME[,NAME...]]

Each DIR holds `perfbench/work/results/*.json` records (one per run). Runs
pair by (workload, seed); when one side has several records for a pair,
the newest (by file name, which embeds the UTC time) is used. A run's value
for a metric is its reported median over passes (or its single `value`).

For each workload and each end-to-end metric named in BENCHMARK.json the
table gives: the number of pairs; the change's win share (a tie counts for
neither side); each side's median, q1 and q3 over runs; the gap of the
medians relative to the parent; the gain verdict (`gain` when the change
wins at least 0.9 of the pairs and the medians differ, in the better
direction, by more than the parent's q3 - q1); and the regression bound
check (`FAIL` when the change median is worse than the parent median by
more than the metric's relative bound). Exit status 1 when any bound
check fails, else 0.

With `--layer`, the table is over the named per-layer metrics of traced
records instead (`--trace` is ignored): n, each side's median, q1 and q3
over runs, and the gap. Per-layer metrics have no bounds, so there is no
verdict and the exit status is 0.
"""
import argparse
import glob
import json
import os
import sys


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def at(p):
        if len(s) == 1:
            return s[0]
        k = p * (len(s) - 1)
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)

    return at(0.25), at(0.5), at(0.75)


def run_value(entry):
    return entry["median"] if "median" in entry else entry["value"]


def load(directory, trace, workload, section="end_to_end"):
    """{(workload, seed): section dict} from the newest record per pair;
    per-layer sections come from traced records only."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if not rec.get(section):
            continue
        if section == "end_to_end" and int(rec.get("trace", 0)) != trace:
            continue
        if workload and rec.get("workload") != workload:
            continue
        out[(rec["workload"], rec["seed"])] = rec[section]
    return out


def layer_value(v):
    return run_value(v) if isinstance(v, dict) else v


def layer_table(parent, change, pairs, names):
    print(f"{'workload':15s} {'metric':30s} {'n':>3s} "
          f"{'parent med [q1, q3]':>34s} {'change med [q1, q3]':>34s} "
          f"{'gap':>7s}")
    for wl in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == wl]
        for name in names:
            ps, cs = [], []
            for s in seeds:
                pe, ce = parent[(wl, s)].get(name), change[(wl, s)].get(name)
                if pe is not None and ce is not None:
                    ps.append(layer_value(pe))
                    cs.append(layer_value(ce))
            if not ps:
                print(f"{wl:15s} {name:30s}   0  (absent from a side)")
                continue
            pq1, pmed, pq3 = quartiles(ps)
            cq1, cmed, cq3 = quartiles(cs)
            gap = (cmed - pmed) / abs(pmed) if pmed else 0.0
            print(f"{wl:15s} {name:30s} {len(ps):3d} "
                  f"{pmed:11.4g} [{pq1:9.4g}, {pq3:9.4g}] "
                  f"{cmed:11.4g} [{cq1:9.4g}, {cq3:9.4g}] {gap:+7.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCHMARK.json"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workload")
    ap.add_argument("--layer", help="comma-separated per-layer metrics")
    args = ap.parse_args()

    section = "per_layer" if args.layer else "end_to_end"
    parent = load(args.parent, args.trace, args.workload, section)
    change = load(args.change, args.trace, args.workload, section)
    pairs = sorted(set(parent) & set(change))
    if not pairs:
        sys.exit("bench_pairs: no (workload, seed) present on both sides")
    unpaired = sorted((set(parent) | set(change)) - set(pairs))
    if args.layer:
        layer_table(parent, change, pairs, args.layer.split(","))
        if unpaired:
            print(f"unpaired (ignored): {unpaired}")
        return

    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]

    failed = False
    head = (f"{'workload':15s} {'metric':17s} {'n':>3s} {'wins':>5s} "
            f"{'parent med [q1, q3]':>34s} {'change med [q1, q3]':>34s} "
            f"{'gap':>7s}  verdict  bound")
    print(head)
    for wl in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == wl]
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            ps, cs = [], []
            for s in seeds:
                pe, ce = parent[(wl, s)].get(name), change[(wl, s)].get(name)
                if pe is not None and ce is not None:
                    ps.append(run_value(pe))
                    cs.append(run_value(ce))
            if not ps:
                continue
            wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
            share = wins / len(ps)
            pq1, pmed, pq3 = quartiles(ps)
            cq1, cmed, cq3 = quartiles(cs)
            better_by = (pmed - cmed) if lower else (cmed - pmed)
            gain = share >= 0.9 and better_by > pq3 - pq1
            worse = -better_by / abs(pmed) if pmed else 0.0
            bound_ok = worse <= m["bound"]
            failed |= not bound_ok
            gap = (cmed - pmed) / abs(pmed) if pmed else 0.0
            print(f"{wl:15s} {name:17s} {len(ps):3d} {share:5.2f} "
                  f"{pmed:11.4g} [{pq1:9.4g}, {pq3:9.4g}] "
                  f"{cmed:11.4g} [{cq1:9.4g}, {cq3:9.4g}] "
                  f"{gap:+7.1%}  {'gain' if gain else '-':7s}  "
                  f"{'ok' if bound_ok else 'FAIL'} ({m['bound']:g})")
    if unpaired:
        print(f"unpaired (ignored): {unpaired}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
