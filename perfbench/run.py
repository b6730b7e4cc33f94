#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload corpus_scan --seed 1 --seconds 20 \
        --trace 0

Builds the engine and the benchmark driver from source on first use (sbt,
offline), makes the workload's inputs from the seed, runs the driver in a
fresh JVM on local[nproc] as one closed-loop client, checks every output, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics; with
`--trace 1` its per-layer metrics. The full record (every metric, the
per-operation samples, the failures and the run's provenance: host shape,
load average, source digest, JVM heap, seed and query list) is written to
perfbench/work/results/. `--plant wrong_result|dup_key` corrupts one expected
value or loads one duplicate-key row, to show the checks count failures.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JVM_HEAP = "3g"
# Set-ups per run; the median is setup_s. artifact_kernels sets up twice:
# its warm artifact tier alone takes about 10 s.
SETUPS = {"corpus_scan": 3, "artifact_kernels": 2, "etl": 3}
# The query workloads serve an interactive session: an untimed warm-up pass
# fills the JIT and generated-code caches, then passes repeat for --seconds.
# An etl pass is a batch job in a fresh JVM: exactly one timed pass, cold.
WARMUP = {"corpus_scan": 1, "artifact_kernels": 1, "etl": 0}
MAX_PASSES = {"etl": 1}
RUN_LIMIT_S = 175        # a run must end within 180 s
BUILD_LIMIT_S = 840      # the first run may also build, within 900 s
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Committed inputs of the query workloads: one corpus, one list per
# workload, one file of expected result fingerprints.
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
WORKLOADS = {
    "corpus_scan": os.path.join(HERE, "queries", "corpus_scan.txt"),
    "artifact_kernels": os.path.join(HERE, "queries", "artifact_kernels.txt"),
    "etl": None,
}
FINGERPRINTS = os.path.join(HERE, "queries", "fingerprints.tsv")
# The etl input size: synthetic countries and UN slices per country-year.
ETL_COUNTRIES = 2400
ETL_SLICES = 2


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's and the driver's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256(ROOT.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compiles engine and driver once per source digest; returns the
    runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp = os.path.join(target, "perfbench-stamp.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    print("[perfbench] building engine and driver (sbt, offline)",
          file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines()
             if not l.startswith("[") and "classes" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def git_state():
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True, timeout=20)
        if commit.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=20)
        return commit.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant", default="none",
                    choices=["none", "wrong_result", "dup_key"])
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/: nothing to build")
    spec = bench_spec()
    started = time.monotonic()
    digest = source_digest()
    cp = build(digest)
    built_s = time.monotonic() - started

    cpus = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_path = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--setups", str(SETUPS[a.workload]),
            "--warmup", str(WARMUP[a.workload]), "--work", work,
            "--record", record_path, "--plant", a.plant]
    if a.workload in MAX_PASSES:
        args += ["--max-passes", str(MAX_PASSES[a.workload])]
    if a.workload == "etl":
        etl_in = os.path.join(work, "etl_in")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_etl.py"),
                        "--seed", str(a.seed), "--out", etl_in,
                        "--countries", str(ETL_COUNTRIES),
                        "--slices", str(ETL_SLICES)], check=True)
        args += ["--etl-in", etl_in]
    else:
        args += ["--corpus", CORPUS, "--queries", WORKLOADS[a.workload],
                 "--expected", FINGERPRINTS]

    # A fixed, pre-touched heap: peak RSS then does not depend on when G1
    # decides to grow the heap. No perf-data file: the run writes only
    # inside the checkout.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graftbench.Driver"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    load_before = os.getloadavg()[0]
    limit = RUN_LIMIT_S + (BUILD_LIMIT_S if built_s > 30 else 0) - (
        time.monotonic() - started)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(limit, 10))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"driver JVM exceeded its time limit; log: {log_path}")
    load_after = os.getloadavg()[0]
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"driver JVM exited with {rc}; log: {log_path}")
    with open(record_path) as f:
        record = json.load(f)

    commit, dirty = git_state()
    record["provenance"] = {
        "nproc": os.cpu_count(), "cpus": cpus,
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "commit": commit, "dirty": dirty, "source_digest": digest,
        "xmx": JVM_HEAP, "setups": SETUPS[a.workload],
        "warmup": WARMUP[a.workload], "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "plant": a.plant,
        "queries": record.get("queries"),
        "etl_size": ({"countries": ETL_COUNTRIES, "slices": ETL_SLICES}
                     if a.workload == "etl" else None),
        "corpus": os.path.relpath(CORPUS, ROOT)
        if a.workload != "etl" else None,
        "unix_time": time.time(),
    }
    e2e = record["end_to_end"]
    layer = record.get("per_layer", {})
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        value = (layer if a.trace else e2e).get(m["name"])
        if value is None:
            fail(f"metric {m['name']} missing from the driver's record")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    result = {"correct": record["failed"] == 0 and record["attempted"] > 0,
              "attempted": record["attempted"], "failed": record["failed"],
              "metrics": metrics}
    record["result"] = result
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{run_id}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for failure in record["failures"][:20]:
        print(f"[perfbench] failure: {failure}", file=sys.stderr)
    print(f"[perfbench] record: {os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
