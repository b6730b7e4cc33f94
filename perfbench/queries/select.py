"""Derive the committed workload query lists from classes.jsonl.

classes.jsonl is Classify's output (one line per SparkEntry query: its
class, the session memos it grew and the tables it scanned, on the sf0.001
corpus). A whole class does not fit one run of the benchmark, so each list
is a fixed sample: candidates are ordered by the SHA-256 of their name and
taken from the front, so the sample is arbitrary but never depends on
timing or results. `artifact_kernels` is stratified so that it holds
queries served by per-round sweeps, by the warm tier, and by the native
kernels over `documents`/`embeddings` alone.

    python3 perfbench/queries/select.py
"""

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_SCAN = 12
ARTIFACT_STRATA = (("sweep", 3), ("warm", 3), ("kernel", 2))
SWEEP_MEMOS = {"nearDupSweep", "componentSweep", "centroidSweep", "bpeSweep",
               "pqSweep", "itemKnnSweep", "evalVotesSweep"}


def stratum(row):
    memos = set(row["memos"])
    if memos & SWEEP_MEMOS:
        return "sweep"
    return "warm" if memos else "kernel"


def main():
    with open(os.path.join(HERE, "classes.jsonl")) as f:
        rows = [json.loads(line) for line in f]
    rows.sort(key=lambda r: hashlib.sha256(r["query"].encode()).hexdigest())
    corpus = [r["query"] for r in rows if r["class"] == "corpus"]
    picks = {"corpus_scan": corpus[:CORPUS_SCAN], "artifact_kernels": []}
    for name, n in ARTIFACT_STRATA:
        picks["artifact_kernels"] += [
            r["query"] for r in rows
            if r["class"] == "artifact" and stratum(r) == name][:n]
    for workload, names in picks.items():
        with open(os.path.join(HERE, f"{workload}.txt"), "w") as f:
            f.write(f"# {workload}: written by select.py from classes.jsonl\n")
            f.writelines(n + "\n" for n in sorted(names))


if __name__ == "__main__":
    main()
