#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records written by run.py (perfbench/work/results/
*.json). For each workload and end-to-end metric of BENCHMARK.json it prints
each side's median and quartiles (Python's statistics.quantiles, n=4) and a
verdict:

* `regression`: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median);
* `gain`: the change wins at least 9 of every 10 seed-matched pairs (ties
  count for neither) and the medians differ by more than the parent's
  interquartile range;
* `unresolved`: a side's interquartile range, as a share of its median,
  exceeds the bound, unless every change run beats every parent run;
* `same`: none of the above.

It refuses (exit 2) to compare runs whose cpus, seeds, query lists, input
sizes or run lengths differ, and runs that failed their output checks.
"""

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SHAPE_KEYS = ("cpus", "seconds", "queries", "etl_size", "corpus", "trace")


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile range as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def better(a, b, direction):
    return a < b if direction == "lower" else a > b


def pair_rule(parent, change, direction):
    """Seed-matched pairs {seed: value}: (wins, pairs, gain?). A gain needs
    wins in >= 9/10 of the pairs and a median gap larger than the parent's
    interquartile range."""
    seeds = sorted(set(parent) & set(change))
    wins = sum(better(change[s], parent[s], direction) for s in seeds)
    p = [parent[s] for s in seeds]
    c = [change[s] for s in seeds]
    if not seeds:
        return 0, 0, False
    q1, pmed, q3 = quartiles(p)
    gap = abs(statistics.median(c) - pmed)
    gain = (wins * 10 >= 9 * len(seeds) and gap > (q3 - q1) and
            better(statistics.median(c), pmed, direction))
    return wins, len(seeds), gain


def verdict(parent, change, metric):
    """Verdict for one metric over seed-matched {seed: value} maps."""
    bound, direction = metric["bound"], metric["better"]
    p, c = list(parent.values()), list(change.values())
    pmed, cmed = statistics.median(p), statistics.median(c)
    worse = cmed - pmed if direction == "lower" else pmed - cmed
    wins, pairs, gain = pair_rule(parent, change, direction)
    if worse > bound * pmed:
        return "regression", wins, pairs
    if gain:
        return "gain", wins, pairs
    all_better = all(better(x, y, direction) for x in c for y in p)
    if (spread(p) > bound or spread(c) > bound) and not all_better:
        return "unresolved", wins, pairs
    return "same", wins, pairs


def load(directory):
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        if "provenance" in r and r.get("trace") is False:
            runs.append(r)
    return runs


def shape(run):
    p = run["provenance"]
    return {k: p.get(k) for k in SHAPE_KEYS}


def refuse(msg):
    print(f"refusing to compare: {msg}", file=sys.stderr)
    sys.exit(2)


def compare(parent_runs, change_runs, spec):
    """Rows (workload, metric, parent stats, change stats, verdict)."""
    rows = []
    for wl in sorted({r["workload"] for r in parent_runs + change_runs}):
        ps = [r for r in parent_runs if r["workload"] == wl]
        cs = [r for r in change_runs if r["workload"] == wl]
        if not ps or not cs:
            refuse(f"workload {wl} has runs on one side only")
        shapes = {json.dumps(shape(r), sort_keys=True) for r in ps + cs}
        if len(shapes) != 1:
            refuse(f"{wl}: runs differ in cpus, run length, query list or "
                   f"input size: {sorted(shapes)}")
        if sorted(r["seed"] for r in ps) != sorted(r["seed"] for r in cs):
            refuse(f"{wl}: the two sides ran different seeds")
        bad = [r["seed"] for r in ps + cs if r["failed"]]
        if bad:
            refuse(f"{wl}: runs with failed checks (seeds {bad})")
        for m in spec["end_to_end"]:
            pv = {r["seed"]: r["end_to_end"][m["name"]] for r in ps}
            cv = {r["seed"]: r["end_to_end"][m["name"]] for r in cs}
            v, wins, pairs = verdict(pv, cv, m)
            rows.append((wl, m, quartiles(list(pv.values())),
                         quartiles(list(cv.values())), v, wins, pairs))
    return rows


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(sys.argv[1]), load(sys.argv[2]), spec)
    print(f"{'workload':18} {'metric':12} {'parent q1/med/q3':>30} "
          f"{'change q1/med/q3':>30} {'pairs won':>9}  verdict")
    for wl, m, p, c, v, wins, pairs in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{wl:18} {m['name']:12} {fmt(p):>30} {fmt(c):>30} "
              f"{wins:>4}/{pairs:<4}  {v}")


if __name__ == "__main__":
    main()
