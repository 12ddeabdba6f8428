#!/usr/bin/env python3
"""Runs one benchmark run of the Spark vector engine and prints its result.

    python3 perfbench/run.py --workload search|join --seed N \
        --seconds S --trace 0|1 [--size full|toy]

Builds the benchmark (the engine's sources plus perfbench/src) with sbt on
first use, runs one workload in a fresh JVM, checks every op's output, and
prints as its last stdout line one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json on an
untraced run, its per-layer metrics on a traced one. The line before it is
the host record (seed, task threads, load average at start and end of the
run, share of CPU time the hypervisor stole during it).
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
MAX_CORES = 4  # Spark runs on min(MAX_CORES, nproc) task threads
# Spark 4 on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(HERE, f)))
    return newest


def build():
    """Compiles with sbt unless the classpath file is newer than every source."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    try:
        subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, check=True)
    except (subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")
    if not os.path.exists(CLASSPATH_FILE):
        fail("build produced no classpath")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def load_metric_units(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def run_jvm(args, work):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    # fixed heap and young generation: GC sizing does not drift during a run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--size", args.size, "--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = None
    if out is None or proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("run timed out" if out is None else f"run exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["search", "join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "toy"], default="full",
                    help="toy: tiny inputs, for the smoke test")
    args = ap.parse_args()

    build()
    units = load_metric_units(args.trace)
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    work = os.path.join(ROOT, ".bench_build", f"perfbench-run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()
    ticks_end = cpu_ticks()
    steal = (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1])

    lines = out.splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line)
    raw = [line for line in lines if line.startswith("PERFBENCH ")]
    if not raw:
        fail("run printed no result")
    res = json.loads(raw[-1][len("PERFBENCH "):])
    unknown = sorted(set(res["metrics"]) - set(units))
    if unknown:
        fail(f"metrics not named in BENCHMARK.json: {unknown}")
    metrics = {}
    for name, unit in units.items():
        value = res["metrics"].get(name)
        if value is None and args.trace:
            value = 0.0  # this workload does not run that layer
        if value is None:
            fail(f"metric {name} was not measured")
        metrics[name] = {"value": value, "unit": unit}

    print(json.dumps({"host": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "task_threads": min(MAX_CORES, os.cpu_count() or 1),
        "nproc": os.cpu_count(), "loadavg_start": list(load_start),
        "loadavg_end": list(load_end), "cpu_steal_frac": round(steal, 4)}}))
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] >= 1,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
