#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread and record it with the box.

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 1000] [--same-seed]
        [--out FILE] [workload ...]

Runs every named workload (default: all of BENCHMARK.json) --runs times,
each with another seed (with --same-seed, all with --first-seed, which
separates the box's own noise from differences between seeds), untraced, for BENCHMARK.json's run_seconds. For
each end-to-end metric it records the median and quartiles
(statistics.quantiles, n=4) and the spread (Q3 - Q1) / median, next to the
metric's bound, and the box the runs were made on: cores, memory, JDK and
Spark version. Compare only figures recorded on the same box.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def box():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jdk = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()[0]
    jars = os.listdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")) \
        if os.environ.get("SPARK_HOME") else []
    spark = next((j[len("spark-core_2.13-"):-len(".jar")] for j in jars
                  if j.startswith("spark-core_2.13-")), "unknown")
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gib": round(mem_kb / 2 ** 20, 1),
            "jdk": jdk, "spark": spark, "kernel": platform.release()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--out", default=os.path.join(BENCH, "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {"box": box(), "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in names:
        values, seeds = {}, []
        for i in range(args.runs):
            seed = args.first_seed + (0 if args.same_seed else i)
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{wl} seed {seed} failed (exit {p.returncode}):\n{p.stderr[-3000:]}")
            res = json.loads(lines[-1])
            seeds.append(seed)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())), flush=True)
        summary = {}
        for k, xs in sorted(values.items()):
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                          "bound": bounds[k], "values": xs}
            print(f"  {k:24s} median {med:12.4g}  spread {(q3 - q1) / med:.3f}  bound {bounds[k]}")
        result["workloads"][wl] = {"seeds": seeds, "metrics": summary}
    with open(args.out, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")


if __name__ == "__main__":
    main()
