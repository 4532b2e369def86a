#!/usr/bin/env python3
"""Benchmark of the tier engine: one run of one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload cascade --seed 1 --seconds 20 --trace 0

Builds the engine and the harness (perfbench/build.py) if a source changed,
then launches one JVM directly (no sbt) and waits for it. JVM settings:
heap MemTotal / 2 clamped to 2..8 GiB with -Xms equal to -Xmx, ParallelGC,
the add-opens of build.sbt, UTC; Spark runs local[nproc] with shuffle
partitions fixed per workload (perfbench/src/perfbench/Workloads.scala).

--seed seeds Pages.synthesize and the serve panels' time ranges. Each run
makes its inputs and tier stores from it in a fresh directory under
.bench_build/ and deletes them afterwards; nothing is cached across runs
except the compiled classes.

Workloads (closed loop, one client): `cascade` times Rollup.tier1m plus the
5m/1h/1d promotions into the noop sink over 100k pages of one day; `serve`
builds a store with TierPipeline.buildAll in set-up (100k pages over two
days) and times a four-panel dashboard refresh.

Standard output: one line per metric (value, unit, sample count; with
--trace 1 the end-to-end metric the layer should move, from
perfbench/layers.json), a `diagnostics` line (set-up parts, per-op times,
ops_failed_ratio, store_bytes_per_page, load average, steal and GC time,
a host calibration loop; all measured outside the timed ops), with
--trace 1 the self-time table, and last the result JSON:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cascade", "serve")
# a JVM that has not finished by then is killed and the run fails
JVM_TIMEOUT_S = 170

# the add-opens of build.sbt: Spark on JDK 17 outside spark-submit needs them
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gib():
    """MemTotal / 2, clamped to 2..8 GiB: the heap rule of the tier-1 tests."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(8, max(2, kib // 2097152))


def jvm_flags(heap):
    flags = [f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.abspath(
                 os.path.join("perfbench", "log4j2.properties"))]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def cpu_ticks():
    """(all ticks, steal ticks) summed over CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def clean_stale(parent):
    """Removes run directories left by runs whose process is gone."""
    for d in glob.glob(os.path.join(parent, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def load_metric_defs():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join("perfbench", "layers.json")) as f:
        layers = json.load(f)
    return bench, layers


def run_jvm(args, work, classes, jars, cpus):
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java", *jvm_flags(heap_gib()),
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out, "--cpus", str(cpus)]
    os.makedirs(os.path.join(work, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench, layers = load_metric_defs()
    classes = build.build()
    jars = build.spark_jars()
    cpus = len(os.sched_getaffinity(0))
    parent = os.path.abspath(os.path.join(".bench_build", "perfbench"))
    clean_stale(parent)
    work = os.path.join(parent, f"run-{os.getpid()}")
    os.makedirs(work)
    load0, (tot0, steal0), t0 = loadavg(), cpu_ticks(), time.time()
    try:
        res = run_jvm(args, work, classes, jars, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tot1, steal1 = cpu_ticks()
    ticks = os.sysconf("SC_CLK_TCK")

    if args.trace:
        defs, values = bench["per_layer"], res.get("layers", {})
    else:
        defs, values = bench["end_to_end"], res
    samples = res.get("samples", {})
    metrics = {}
    for d in defs:
        v = values.get(d["name"])
        if v is None:
            res["failures"].append(f"metric {d['name']} missing")
            continue
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
        note = ""
        if args.trace:
            lay = layers["per_layer"][d["name"]]
            note = f"  moves {lay['moves']} on {lay['on']}"
        else:
            note = f"  n={int(samples.get(d['name'], 1))}"
        print(f"{d['name']:32s} {v:16.6f} {d['unit']:8s}{note}")
    attempted = int(res.get("attempted", 0))
    failed = int(res.get("failed", 0))
    if len(metrics) < len(defs):
        failed = max(failed, 1)
    diag = dict(res.get("diag", {}))
    diag.update({
        "workload": args.workload, "seed": args.seed,
        "ops_failed_ratio": failed / max(attempted, 1),
        "loadavg_start": load0, "loadavg_end": loadavg(),
        "steal_s": (steal1 - steal0) / ticks,
        "steal_share": (steal1 - steal0) / max(tot1 - tot0, 1),
        "wall_s": time.time() - t0, "cpus": cpus, "heap_gib": heap_gib(),
        "failures": res.get("failures", [])[:10],
    })
    print("diagnostics " + json.dumps(diag))
    if args.trace:
        print("self time of traced spans (sql:* are the Spark SQL executions "
              "started inside a span)")
        print(f"  {'span':34s} {'count':>5s} {'total_s':>9s} {'self_s':>9s}")
        for name, row in res.get("self_time", {}).items():
            print(f"  {name:34s} {row['count']:5d} {row['total_s']:9.3f} "
                  f"{row['self_s']:9.3f}")
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
