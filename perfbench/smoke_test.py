#!/usr/bin/env python3
"""Toy-size smoke test of the benchmark.

    python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json at toy size, untraced and traced, and
checks that each run prints the host record and a result line naming every
metric of BENCHMARK.json with its unit, with no failed op.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            host, res = run(w, trace)
            where = f"{w} trace={trace}"
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
            if got != want:
                problems.append(f"{where}: metrics/units differ from BENCHMARK.json")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{where}: failed {res['failed']} of {res['attempted']}")
            if trace == 0 and not all(v["value"] > 0 for v in res["metrics"].values()):
                problems.append(f"{where}: an end-to-end metric is not positive")
            if host["host"]["seed"] != 7 or len(host["host"]["loadavg_end"]) != 3:
                problems.append(f"{where}: bad host record {host}")
            print(f"{where}: {res['attempted']} ops, {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
