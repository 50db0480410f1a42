#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine (src/main/scala) and the harness (perfbench/harness) into
.bench_build/classes, and any run recompiles when one of those sources
changed; every run generates the workload's inputs from the seed (reused
while the seed, the workload's shape and gen.py are unchanged), starts the engine
in one JVM at local[nproc], runs a cold warm-up pass and then warm
closed-loop passes over the workload's queries for --seconds, checks
every query's output, and prints each metric by name with its unit and
sample count. The last stdout line is the JSON result: end-to-end metrics
with --trace 0, per-layer metrics of an extra traced pass with --trace 1.

Workloads, queries and metrics are declared in perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
# the Spark distribution the engine builds and runs against: SPARK_HOME,
# else the jars bundled with the pyspark package of the same release
SPARK_HOME = os.environ.get("SPARK_HOME") or importlib.util.find_spec(
    "pyspark").submodule_search_locations[0]
SPARK_JARS = os.path.join(SPARK_HOME, "jars", "*")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
RUN_DEADLINE_S = 170
FAMILIES = ("cluster", "text", "sim", "rel", "stream", "io")
# the family times are printed on every run but bounded only through
# wall_s: a family of one or two ~1 s queries spread up to 0.26 of its
# median across runs, beyond the largest bound a metric may have (0.25)
E2E_METRICS = ("setup_s", "wall_s", "live_heap_mb")

sys.path.insert(0, HERE)
import gen  # noqa: E402
import check  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """Hash of the files' paths (relative to the root) and contents."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and the harness; rebuild whenever a source changed."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not sources:
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from a full checkout")
    stamp = os.path.join(CLASSES, ".built")
    want = digest(sources + harness)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return 0.0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    t0 = time.perf_counter()
    subprocess.run(["java", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main", "-nowarn",
                    "-d", CLASSES, "-cp", SPARK_JARS] + sources + harness,
                   check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"build {time.perf_counter() - t0:.1f} s")
    return time.perf_counter() - t0


def jvm_cmd(spec, *args):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JVM_OPENS]
    return (["java", f"-Xmx{spec['heap']}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"] + opens
            + ["-cp", f"{CLASSES}:{SPARK_JARS}", "graft.perfbench.Harness"] + list(args))


def jvm_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["LC_ALL"] = "C.utf8"
    return env


def harness(spec, deadline, data, out, queries, trace, seconds):
    """Run the harness JVM to completion; return its set-up time, spawn to READY."""
    os.makedirs(out)
    err = open(os.path.join(out, "harness.log"), "w")
    t0 = time.perf_counter()
    p = subprocess.Popen(jvm_cmd(spec, data, out, queries, trace, seconds), cwd=BUILD,
                         env=jvm_env(), stdout=subprocess.PIPE, stderr=err, text=True)
    ready = None
    # the deadline holds while the JVM runs: reading its stdout blocks
    # until it exits, so a timer kills a harness that hangs
    killed = threading.Event()

    def kill():
        killed.set()
        p.kill()
    watchdog = threading.Timer(max(1.0, deadline - time.perf_counter()), kill)
    watchdog.start()
    try:
        for line in p.stdout:
            if line.strip() == "READY" and ready is None:
                ready = time.perf_counter() - t0
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        err.close()
    if killed.is_set():
        raise SystemExit(f"perfbench: harness passed the {RUN_DEADLINE_S} s deadline; see {err.name}")
    if ready is None or p.returncode != 0:
        raise SystemExit(f"perfbench: harness exited with {p.returncode}; see {err.name}")
    return ready


def pass_figures(recs):
    """Wall time of one pass and its time per family."""
    fam = {}
    for r in recs:
        fam[r["family"]] = fam.get(r["family"], 0.0) + r["build_s"] + r["exec_s"]
    return sum(fam.values()), fam


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.perf_counter()

    spec_all = json.load(open(os.path.join(HERE, "workloads.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in spec_all["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = spec_all["workloads"][a.workload]
    names = sorted(w["queries"])

    # a first run in a checkout may also build; the deadline covers the rest
    deadline = t_start + build() + RUN_DEADLINE_S
    # inputs are keyed by the generator's source and shape, so a changed
    # generator or workload shape writes new files instead of reusing old ones
    shape = f"{a.workload}-sf{w['sf']}-x{w['copies']}-seed{a.seed}"
    data = os.path.join(BUILD, "data", f"{shape}-{digest([gen.__file__])[:12]}")
    gen_s = gen.generate(data, w["sf"], w["copies"], a.seed)
    log(f"inputs {data}: generated in {gen_s:.2f} s" if gen_s else f"inputs {data}: reused")

    out = os.path.join(BUILD, "out", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    setup_s = harness(w, deadline, data, out, ",".join(names), str(a.trace), str(a.seconds))

    result = json.load(open(os.path.join(out, "pass.json")))
    passes = result["passes"]
    # passes[0] is the cold warm-up pass; with tracing the last pass is traced
    timed = passes[1:-1] if a.trace else passes[1:]
    errors = {}
    for p in passes:
        for r in p:
            errors[r["name"]] = errors.get(r["name"]) or r["error"]
    failures = check.check_outputs(out, data, errors, result["columns"], w["no_oracle"], names)
    n_fail = len(failures)
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")

    figures = [pass_figures(p) for p in timed]
    missing = set(FAMILIES) - set(figures[0][1])
    if missing:
        raise SystemExit(f"perfbench: workload {a.workload} has no query in {sorted(missing)}")
    values = {"setup_s": (setup_s, 1),
              "wall_s": (statistics.median(f[0] for f in figures), len(figures))}
    for f in FAMILIES:
        values[f"{f}_s"] = (statistics.median(fig[1][f] for fig in figures), len(figures))
    live = result["live_heap_mb"][1:len(timed) + 1]
    values["live_heap_mb"] = (statistics.median(live), len(live))
    selfcheck = []
    if a.trace:
        trace = json.load(open(os.path.join(out, "trace.json")))
        layer = dict(trace["metrics"])
        traced = pass_figures(passes[-1])[0]
        layer["trace.wall_s"] = traced
        layer["trace_overhead_s"] = traced - values["wall_s"][0]
        layer["entry.build_s"] = sum(r["build_s"] for r in passes[-1])
        layer["entry.exec_s"] = sum(r["exec_s"] for r in passes[-1])
        layer["memo.stored_bytes"] = result["memo_stored_bytes"]
        layer["peak_rss_mb"] = result["peak_rss_mb"]
        layer.update({f"{f}_s": values[f"{f}_s"][0] for f in FAMILIES})
        selfcheck = check.trace_selfcheck(trace, passes[-1], names)
        metric_defs = bench["per_layer"]
    else:
        layer = None
        metric_defs = bench["end_to_end"]

    # human-readable report: every metric by name, unit and sample count
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"workload {a.workload} seed {a.seed}: {len(names)} queries, "
          f"inputs generated in {gen_s:.2f} s, failed_frac {n_fail / len(names):.4f} "
          f"({n_fail}/{len(names)})")
    print(f"  cold warm-up pass {pass_figures(passes[0])[0]:.4f} s, then {len(timed)} warm passes")
    for m, (v, n) in values.items():
        print(f"  {m:<14} {v:12.4f} {units[m]:<6} n={n}")
    for i, n in enumerate(names):
        build_s = statistics.median(p[i]["build_s"] for p in timed)
        exec_s = statistics.median(p[i]["exec_s"] for p in timed)
        print(f"  query {n:<34} {timed[0][i]['family']:<8} build {build_s:8.3f} s  "
              f"exec {exec_s:8.3f} s  n={len(timed)}")
    if layer is not None:
        for k in sorted(layer):
            print(f"  layer {k:<34} {layer[k]:.6g}")
    for problem in selfcheck:
        log(f"SELF-CHECK {problem}")

    measured = layer if layer is not None else {k: values[k][0] for k in E2E_METRICS}
    check.require_declared(measured, metric_defs, exact=layer is None)
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in metric_defs}
    print(json.dumps({"correct": n_fail == 0 and not selfcheck, "attempted": len(names),
                      "failed": n_fail, "metrics": metrics}))


if __name__ == "__main__":
    main()
