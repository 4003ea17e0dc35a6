#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft Spark engine (see README.md).

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from source
on first use, runs one workload in its own JVM on local[4], checks every
key's output digest, and prints one JSON result line last on stdout.
Exits 1 if any output is wrong, 2 if the benchmark cannot run at all.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import threading
import time

import gen10x
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE_DATA = os.path.join(HERE, "data", "sf0.01")
RUNS = os.path.join(HERE, ".runs")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")

# Each workload runs these keys, as (layer module, SparkEntry key), in
# every pass. `data` is the shipped sf0.01 corpus or its seeded 10x.
WORKLOADS = {
    # The paper's job: ingest a CSV landing, clean, then the seeded
    # RandomForest 3-fold x 2x2-grid cross-validation (index, assemble,
    # 12 fits). Driver-bound: ml_cross_validator alone runs 152 jobs.
    "ml_reference": {
        "data": "base",
        "keys": [("Sources", "scan_csv_typed"), ("Relational", "na_drop"),
                 ("MLOps", "ml_cross_validator")],
    },
    # Curation at 10x: the composed clean pipeline plus the near-dup and
    # vector-search kernels; 41% of its thread CPU runs in tasks (24% for
    # ml_reference). No MLOps key, so an MLOps change should leave it flat.
    "curation_10x": {
        "data": "10x",
        "keys": [("Curation", "corpus_clean"), ("Dedup", "dedup_near"),
                 ("Similarity", "sim_search")],
    },
}

SETUP_ROUNDS = 2
# A warm pass of either workload takes about this long on 4 cores; the
# timed passes are a fixed count, --seconds / NOMINAL_PASS_S, so every run
# of one setting measures the same stretch of JIT warm-up.
NOMINAL_PASS_S = 6.5
MIN_PASSES = 2
JVM_TIMEOUT_S = 165
HEAP = ["-Xms2g", "-Xmx2g"]  # fixed size: no resizing noise between runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt (offline) once per source state;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must name the Spark installation to build against")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def calibrate():
    """Host weather: seconds for a fixed 4-thread hashing load (hashlib
    releases the GIL, so the threads run on 4 cores at once)."""
    block = b"\x5a" * (1 << 20)

    def work():
        h = hashlib.sha256()
        for _ in range(320):
            h.update(block)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=work) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def steal_ticks():
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; have {sorted(WORKLOADS)}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}/src; run from a checkout")
    w = WORKLOADS[a.workload]
    cp = build()

    run_dir = os.path.join(RUNS, f"{a.workload}-s{a.seed}-{os.getpid()}")
    try:
        gen_s = 0.0
        data = BASE_DATA
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        if w["data"] == "10x":
            t0 = time.perf_counter()
            data = os.path.join(run_dir, "data")
            gen10x.generate(BASE_DATA, data, a.seed)
            gen_s = time.perf_counter() - t0
        calib_s = calibrate()
        steal0 = steal_ticks()
        passes = max(MIN_PASSES, round(a.seconds / NOMINAL_PASS_S))
        raw = run_jvm(cp, w["keys"], data, run_dir, a.seed, passes, a.trace)
        weather = {"calib_s": calib_s, "steal_ticks": steal_ticks() - steal0,
                   "gen_s": gen_s}
        result, diag = stats.summarize(a.workload, WORKLOADS, raw,
                                       reference(a.workload), a.trace == 1,
                                       weather)
        if a.trace:
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"),
                            os.path.join(RUNS, f"spans-{a.workload}-s{a.seed}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(diag, sort_keys=True))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def run_jvm(cp, keys, data, run_dir, seed, passes, trace, dump=None):
    """Runs perfbench.Main once in `run_dir` (its tmpdir, Spark local dir
    and working directory all live there) and returns its raw JSON."""
    for d in ("work", "tmp0", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, "out.json")
    cmd = (["java"] + HEAP +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp0"),
            "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
            "-cp", cp, "perfbench.Main",
            "--keys", ",".join(f"{m}.{k}" for m, k in keys),
            "--data", data, "--work", run_dir, "--seed", str(seed),
            "--passes", str(passes), "--setup-rounds", str(SETUP_ROUNDS),
            "--trace", str(trace), "--out", out] +
           (["--dump", dump] if dump else []))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=os.path.join(run_dir, "work"),
                               stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {JVM_TIMEOUT_S}s")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


def reference(workload):
    with open(os.path.join(HERE, "reference.json")) as fh:
        return json.load(fh).get(workload, {})


if __name__ == "__main__":
    main()
