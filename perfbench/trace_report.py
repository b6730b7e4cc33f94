#!/usr/bin/env python3
"""Traced run of one workload, with its tracing overhead.

    python3 perfbench/trace_report.py --workload etl --seed 1 [--pairs 3]

Runs the workload untraced and traced with the same seed (run.py --trace 0,
then --trace 1), `--pairs` times, and writes perfbench/traces/<workload>.json:
the last traced run's per-layer numbers, each layer's self time per pass
with its share of the pass, and the tracing overhead, taken as the median
traced run_s minus the median untraced run_s. Prints the self-time table.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        sys.exit(out.returncode)
    record = [l for l in out.stderr.splitlines()
              if l.startswith("[perfbench] record: ")][-1]
    with open(os.path.join(ROOT, record.split(": ", 1)[1])) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--pairs", type=int, default=3)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    pairs = [(run(a.workload, a.seed, seconds, 0),
              run(a.workload, a.seed, seconds, 1)) for _ in range(a.pairs)]
    plain, traced = pairs[-1]
    untraced_s = statistics.median(p["end_to_end"]["run_s"] for p, _ in pairs)
    run_s = statistics.median(t["end_to_end"]["run_s"] for _, t in pairs)
    layers = traced["per_layer"]
    self_s = layers["self_by_layer_s"]
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": seconds,
        "correct": all(p["result"]["correct"] and t["result"]["correct"]
                       for p, t in pairs),
        "untraced_run_s": untraced_s,
        "traced_run_s": run_s,
        "trace_overhead_s": run_s - untraced_s,
        "run_s_pairs": [[p["end_to_end"]["run_s"], t["end_to_end"]["run_s"]]
                        for p, t in pairs],
        "untraced_end_to_end": plain["end_to_end"],
        "self_time_s": dict(sorted(self_s.items(), key=lambda kv: -kv[1])),
        "self_time_share_of_pass": {k: v / (sum(self_s.values()) or 1)
                                    for k, v in sorted(
                                        self_s.items(),
                                        key=lambda kv: -kv[1])},
        "per_layer": {k: v for k, v in layers.items()
                      if k != "self_by_layer_s"},
        "passes": traced["passes"],
        "provenance": traced["provenance"],
    }
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    path = os.path.join(HERE, "traces", f"{a.workload}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(f"{a.workload}: traced run_s {run_s:.3f} s, untraced "
          f"{report['untraced_run_s']:.3f} s, overhead "
          f"{report['trace_overhead_s']:+.3f} s; covered share "
          f"{layers['trace.covered_share']:.4f}")
    for k, v in report["self_time_s"].items():
        print(f"  {k:12} {v:9.3f} s  {report['self_time_share_of_pass'][k]:6.1%}")
    print(f"wrote {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
