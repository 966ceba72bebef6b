#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from the
checkout's sources together with the benchmark (sbt, offline) into
.bench_build/; later runs reuse that build until a source file changes.
Workload parameters live in perfbench/workloads.json. The last line of
standard output is {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The exit code is 0 only when every output
check passed.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# The program's own maximum heap (its build forks with -Xmx8g) and default
# JIT settings.
JVM_OPTS = ["-Xmx8g"]

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [PROGRAM_SOURCES, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (exit {proc.returncode}); see {log_path}", 3)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log_path}", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SOURCES, "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "workloads.json")) as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; known: {sorted(workloads)}", 2)
    wl = workloads[args.workload]

    cp = build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    cmd = (["java", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + JVM_OPTS
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--kind", wl["kind"], "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--trace-out", os.path.join(BUILD, "traces", f"{tag}.json")])
    for k, v in sorted(wl["params"].items()):
        cmd += ["--param", f"{k}={v['value']}"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    start = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    killed = threading.Event()

    def kill():
        killed.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    try:
        out = proc.stdout.read()
        code = proc.wait()
    finally:
        timer.cancel()
        subprocess.run(["rm", "-rf", work])
    if killed.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    found = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not found:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {code} after {time.monotonic() - start:.1f} s", 1)
    res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    values = res["metrics"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    unknown = set(values) - set(units)
    # a per-layer metric of a layer the workload does not exercise reads 0;
    # every end-to-end metric must be measured
    missing = [n for n in units if n not in values and not args.trace]
    if unknown or missing:
        fail(f"metrics outside BENCHMARK.json: {sorted(unknown)}; not reported: {missing}", 1)
    metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
