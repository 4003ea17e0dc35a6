#!/usr/bin/env python3
"""Re-records perfbench/reference.json, the expected output of every key.

    python3 perfbench/record_reference.py

Run from the repository root after a change that is meant to alter a
key's output. For each workload it runs the keys once, dumps their output,
and checks it against DuckDB with the engine's own oracle SQL through
tools/compare.py on the shipped sf0.01 tables (keys without oracle SQL,
the spark.ml ones, are pinned by digest only; DuckDB's oracle SQL takes
many minutes on the 10x corpus, so that workload's keys are checked on
the base corpus). It then records:

- ml_reference: each key's digest on the shipped sf0.01 tables;
- curation_10x: each key's row count on the 10x corpus, and the digest of
  every key whose output is the same for seeds 1 and 2 (the others
  depend on the seeded salts and strides, so a run checks them against
  its own first execution instead).
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True

import gen10x
import run


def record(workload, seed, cp, scaled):
    """Runs `workload`'s keys once on the base corpus, or on its seeded
    10x when `scaled`; returns each key's digest. Base-corpus output is
    checked against DuckDB."""
    keys = run.WORKLOADS[workload]["keys"]
    run_dir = os.path.join(run.RUNS, f"record-{workload}-s{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = run.BASE_DATA
        if scaled:
            data = os.path.join(run_dir, "data")
            gen10x.generate(run.BASE_DATA, data, seed)
        dump = None if scaled else os.path.join(run_dir, "dump")
        raw = run.run_jvm(cp, keys, data, run_dir, seed, 1, 0, dump=dump)
        if dump:
            cmp = subprocess.run([sys.executable,
                                  os.path.join(run.ROOT, "tools", "compare.py"),
                                  data, dump])
            if cmp.returncode != 0:
                run.fail(f"{workload}: output differs from DuckDB")
        executions = [s["pass"] for s in raw["setup"]] + raw["timed"]
        digests = {}
        for _, key in keys:
            seen = {p["keys"][key]["digest"] for p in executions}
            errors = [p["keys"][key]["error"] for p in executions
                      if p["keys"][key]["error"]]
            if errors or len(seen) != 1:
                run.fail(f"{workload} {key}: unstable or failing: "
                         f"{sorted(seen)} {errors[:1]}")
            digests[key] = seen.pop()
        return digests
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    cp = run.build()
    ref = {}
    for workload, w in run.WORKLOADS.items():
        base = record(workload, 1, cp, scaled=False)
        if w["data"] == "base":
            ref[workload] = {"digests": base}
        else:
            a = record(workload, 1, cp, scaled=True)
            b = record(workload, 2, cp, scaled=True)
            rows = {k: int(d.split(":")[0]) for k, d in a.items()
                    if d.split(":")[0] == b[k].split(":")[0]}
            ref[workload] = {"digests": {k: d for k, d in a.items()
                                         if b[k] == d},
                             "rows": rows}
    with open(os.path.join(run.HERE, "reference.json"), "w") as fh:
        json.dump(ref, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(json.dumps(ref, indent=2, sort_keys=True))


if __name__ == "__main__":
    main()
