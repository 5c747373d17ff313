#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE [--json]

PARENT and CHANGE are result files written by run.py (under
<build dir>/results/) or directories of them. Runs are grouped by
workload and trace mode and paired in the order they started, so run
them alternately: parent, change, change, parent, ...

Per end-to-end metric and workload, with the metric's bound from
BENCHMARK.json, the verdict is:
  better      the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              own spread (the distance between its quartiles); or, where
              that spread is wider than the bound, every change run beats
              every parent run
  worse       the change's median is worse than the parent's by more
              than the bound
  unresolved  the parent's spread is wider than the bound
  same        none of these
  too few     fewer than 10 pairs
Per-layer metrics are listed with medians and wins, without a verdict.

Runs whose environment stamps differ (other than in seed, commit and
source digest) are refused, and so is anything without a stamp, such as
the engine's own BENCH_*.json artifacts (local[32], consumed with
count()).
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10
WIN_SHARE = 0.9
# what may differ between runs that are compared
FREE = ("seed", "commit", "source", "started")


class Refused(Exception):
    pass


def load(paths):
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p) if f.endswith(".json"))
        else:
            files.append(p)
    runs = []
    for f in files:
        with open(f) as fh:
            try:
                r = json.load(fh)
            except ValueError:
                raise Refused(f"{f}: not JSON")
        if not isinstance(r, dict) or "stamp" not in r:
            raise Refused(f"{f}: no environment stamp, not a perfbench result")
        runs.append(r)
    return runs


def comparable(stamp):
    return {k: v for k, v in stamp.items() if k not in FREE}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """The verdict for one metric on paired runs, with its figures."""
    n = min(len(parent), len(change))
    parent, change = parent[:n], change[:n]
    sign = 1.0 if better == "higher" else -1.0
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = q3 - q1
    wins = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    figures = {"pairs": n, "parent_median": pm, "parent_q1": q1, "parent_q3": q3,
               "change_median": cm, "change_q1": quartiles(change)[0],
               "change_q3": quartiles(change)[1], "wins": wins}
    if n < MIN_PAIRS:
        return "too few", figures
    gain = sign * (cm - pm)
    if bound is not None and spread > bound * abs(pm):
        every = all(sign * (b - a) > 0 for a in parent for b in change)
        return ("better" if every else "unresolved"), figures
    if wins >= WIN_SHARE * n and gain > spread:
        return "better", figures
    if bound is not None and -gain > bound * abs(pm):
        return "worse", figures
    return "same", figures


def compare(parent_runs, change_runs, bench):
    """Rows of (workload, trace, metric, verdict, figures)."""
    stamps = {json.dumps(comparable(r["stamp"]), sort_keys=True) for r in parent_runs + change_runs}
    groups = {}
    for side, runs in (("parent", parent_runs), ("change", change_runs)):
        for r in sorted(runs, key=lambda r: r["stamp"].get("started", 0)):
            key = (r["stamp"]["workload"], r["stamp"]["trace"])
            groups.setdefault(key, {"parent": [], "change": []})[side].append(r)
    by_group = {}
    for s in stamps:
        d = json.loads(s)
        by_group.setdefault((d["workload"], d["trace"]), set()).add(s)
    for key, ss in by_group.items():
        if len(ss) > 1:
            a, b = (json.loads(x) for x in sorted(ss)[:2])
            diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
            raise Refused(f"{key[0]} (trace {key[1]}): stamps differ in {', '.join(diff)}")
    rows = []
    for (workload, trace), g in sorted(groups.items()):
        if trace:
            specs = [(m["name"], m["better"], None) for m in bench["per_layer"]]
            field = "per_layer"
        else:
            specs = [(m["name"], m["better"], m["bound"]) for m in bench["end_to_end"]]
            field = "end_to_end"
        for name, better, bound in specs:
            pv = [r[field][name] for r in g["parent"]]
            cv = [r[field][name] for r in g["change"]]
            if not pv or not cv:
                continue
            v, fig = verdict(pv, cv, better, bound)
            rows.append((workload, trace, name, v if bound is not None else "-", fig))
    return rows


def main(argv):
    as_json = "--json" in argv
    args = [a for a in argv if a != "--json"]
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        rows = compare(load([args[0]]), load([args[1]]), bench)
    except Refused as e:
        print(f"refused: {e}", file=sys.stderr)
        return 3
    if as_json:
        print(json.dumps([{"workload": w, "trace": t, "metric": m, "verdict": v, **f}
                          for w, t, m, v, f in rows]))
        return 0
    print(f"{'workload':16} {'metric':28} {'parent [q1, q3]':>28} {'change [q1, q3]':>28} "
          f"{'wins':>7}  verdict")
    for w, t, m, v, f in rows:
        p = f"{f['parent_median']:.4g} [{f['parent_q1']:.4g}, {f['parent_q3']:.4g}]"
        c = f"{f['change_median']:.4g} [{f['change_q1']:.4g}, {f['change_q3']:.4g}]"
        print(f"{w:16} {m:28} {p:>28} {c:>28} {f['wins']:>3}/{f['pairs']:<3}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
