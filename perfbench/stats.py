"""Turns one run's raw JVM measurements into the benchmark's metrics and
its correctness verdict. Kept apart from run.py so the tests can call it
without a JVM."""
import statistics
from fractions import Fraction

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
KEY_METRICS = (("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"),
               ("task_cpu_s", "s"))
WORKLOAD_METRICS = (("build_s", "s"), ("exec_s", "s"), ("stages", "count"),
                    ("tasks", "count"), ("gc_s", "s"),
                    ("shuffle_write_bytes", "bytes"),
                    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"))
SETUP_METRICS = (("setup.session_s", "s"), ("setup.first_pass_s", "s"),
                 ("setup.first_pass_jobs", "count"),
                 ("setup.landing_bytes", "bytes"))
DIAG_METRICS = (("traced_iter_s", "s"), ("gen_s", "s"),
                ("host.calib_s", "s"), ("host.steal_ticks", "count"))
END_TO_END = (("setup_s", "s"), ("iter_s", "s"), ("cpu_s", "s"),
              ("heap_peak_mb", "MB"), ("ok_share", "ratio"))


def highest_percentile(n):
    """The highest of PERCENTILES with at least ten of `n` samples beyond
    it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (100 - Fraction(str(p))) / 100 >= 10:
            best = p
    return best


def timing(values):
    """Median, sample count and the highest supported percentile."""
    s = sorted(values)
    p = highest_percentile(len(s))
    out = {"median": statistics.median(s), "n": len(s)}
    if p is not None:
        out["p%g" % p] = s[min(len(s) - 1, int(len(s) * p / 100))]
    return out


def per_layer_names(workloads):
    """Every per-layer metric as (name, unit), the same list for every
    workload: a key a workload does not run reads 0 there."""
    names = []
    seen = set()
    for w in workloads.values():
        for module, key in w["keys"]:
            if key in seen:
                continue
            seen.add(key)
            names += [(f"{module}.{key}.{m}", u) for m, u in KEY_METRICS]
    return names + list(WORKLOAD_METRICS + SETUP_METRICS + DIAG_METRICS)


def check(workload_keys, raw, ref):
    """Failed key executions and their reasons. Every execution (setup
    rounds and timed passes) must succeed; its digest must equal the
    recorded reference where one exists, and otherwise the workload's
    first execution of that key. `ref["rows"]` pins row counts."""
    executions = [s["pass"] for s in raw["setup"]] + raw["timed"]
    failures = []
    for _, key in workload_keys:
        first = executions[0]["keys"][key]["digest"]
        want = ref.get("digests", {}).get(key, first)
        rows = ref.get("rows", {}).get(key)
        for p in executions:
            k = p["keys"][key]
            if k["error"]:
                failures.append(f"{key} pass {p['index']}: {k['error']}")
            elif k["digest"] != want:
                failures.append(f"{key} pass {p['index']}: digest {k['digest']}"
                                f" != {want}")
            elif rows is not None and int(k["digest"].split(":")[0]) != rows:
                failures.append(f"{key} pass {p['index']}: {k['digest']} rows"
                                f" != {rows}")
    return len(executions) * len(workload_keys), failures


def summarize(workload, workloads, raw, ref, traced, weather):
    keys = workloads[workload]["keys"]
    attempted, failures = check(keys, raw, ref)
    timed = raw["timed"]
    iter_s = [p["wall_s"] for p in timed]
    diag = {"diag": "perfbench", "workload": workload,
            "passes": len(timed), "setup_rounds": len(raw["setup"]),
            "iter_s": timing(iter_s), "pass_s": iter_s,
            "cpu_s": timing([p["cpu_s"] for p in timed]),
            "failures": failures[:20], "weather": weather}
    med = statistics.median
    if not traced:
        metrics = {
            "setup_s": raw["jvm_start_to_first_pass_s"],
            "iter_s": med(iter_s),
            "cpu_s": med([p["cpu_s"] for p in timed]),
            "heap_peak_mb": med(raw["heap_peak_mb"]),
            "ok_share": 1 - len(failures) / attempted,
        }
        units = dict(END_TO_END)
    else:
        metrics, units, repeat = layers(keys, workloads, raw, weather)
        diag["counts_repeat"] = repeat
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures),
              "metrics": {n: {"value": v, "unit": units[n]}
                          for n, v in metrics.items()}}
    return result, diag


def layers(keys, workloads, raw, weather):
    med = statistics.median
    timed = raw["timed"]
    units = dict(per_layer_names(workloads))
    metrics = {n: 0 for n in units}
    module = dict((k, m) for m, k in keys)
    for _, key in keys:
        per = [lay[key] for lay in raw["layers"]]
        walls = [p["keys"][key]["build_s"] + p["keys"][key]["exec_s"]
                 for p in timed]
        prefix = f"{module[key]}.{key}."
        metrics[prefix + "wall_s"] = med(walls)
        for m in ("jobs", "driver_gap_s", "task_cpu_s"):
            metrics[prefix + m] = med([x[m] for x in per])

    def pass_sum(field):
        return med([sum(lay[k][field] for _, k in keys) for lay in raw["layers"]])

    metrics["build_s"] = med([sum(k["build_s"] for k in p["keys"].values())
                              for p in timed])
    metrics["exec_s"] = med([sum(k["exec_s"] for k in p["keys"].values())
                             for p in timed])
    for f in ("stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes"):
        metrics[f] = pass_sum(f)
    metrics["gc_s"] = med([p["gc_s"] for p in timed])
    first = raw["setup"][0]
    metrics["setup.session_s"] = raw["session_s"]
    metrics["setup.first_pass_s"] = first["pass"]["wall_s"]
    metrics["setup.first_pass_jobs"] = first["jobs"]
    metrics["setup.landing_bytes"] = first["tmp_bytes"]
    metrics["traced_iter_s"] = med([p["wall_s"] for p in timed])
    metrics["gen_s"] = weather["gen_s"]
    metrics["host.calib_s"] = weather["calib_s"]
    metrics["host.steal_ticks"] = weather["steal_ticks"]
    repeat = {f: all(len({lay[k][f] for lay in raw["layers"]}) == 1
                     for _, k in keys)
              for f in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                        "shuffle_read_bytes")}
    return metrics, units, repeat
