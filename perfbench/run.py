#!/usr/bin/env python3
"""Build and run the engine benchmark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Run from the repository root. The first run builds the benchmark (a
package of its own in perfbench/, compiled with sbt against the engine's
sources in ../src) and caches the classpath under .bench_build/; later
runs reuse it until a source or build file changes.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones named in BENCHMARK.json; with `--trace 1` they are the
per-layer ones, and the run also leaves a spans file and a per-layer
self-time table in .bench_build/perfbench/trace-<workload>-<seed>/ and
prints the traced end-to-end numbers beside the last untraced run of the
same workload. The exit code is 0 only when every answer checked out.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("dashboard", "ingest_serve")
# Runs must end within 180 s; leave the JVM the rest after the build.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these opened modules.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Build once per source state; return the runtime classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(f):
            fail(f"no engine sources to build: {os.path.relpath(f, ROOT)} is missing")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=out,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log})")
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, args, work, budget_s):
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(BUILD, f"run-{args.workload}-{args.seed}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, env=env,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {budget_s:.0f} s (log: {log})")
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark program exited {p.returncode} (log: {log})\n{tail}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail(f"benchmark program printed no result (log: {log})")
    result = json.loads(lines[-1])
    declared = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(declared):
        with open(declared) as fh:
            bench = json.load(fh)
        want = {m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]}
        if want != set(result["metrics"]):
            fail(f"metrics differ from BENCHMARK.json: {sorted(want ^ set(result['metrics']))}")
    with open(log) as fh:
        for line in fh:
            if line.startswith("FAILED "):
                print(line.rstrip(), file=sys.stderr)
    return result


def show_trace(args, result, work):
    """Print the self-time table and traced vs untraced end-to-end numbers."""
    dest = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}")
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(os.path.join(work, "trace"), dest)
    print(f"spans: {os.path.relpath(os.path.join(dest, 'spans.jsonl'), ROOT)}")
    with open(os.path.join(dest, "selftime.txt")) as fh:
        print("per-layer self time (spans around the calls into each layer):")
        print(fh.read().rstrip())
    last = os.path.join(BUILD, f"last-untraced-{args.workload}.json")
    untraced = {}
    if os.path.exists(last):
        with open(last) as fh:
            untraced = json.load(fh)["metrics"]
    print(f"{'metric':24} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for k, v in result["metrics"].items():
        if not k.startswith("traced."):
            continue
        name = k[len("traced."):]
        base = untraced.get(name, {}).get("value")
        over = f"{(v['value'] - base) / base:+.1%}" if base else "n/a"
        print(f"{name:24} {base if base is not None else 'n/a':>12} "
              f"{v['value']:>12.4f} {over:>9}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    cp = classpath()
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fresh build may spend most of the first run's allowance; a
    # cached one leaves the whole run limit to the program
    budget = RUN_LIMIT_S if time.time() - started < 5 else 900 - (time.time() - started)
    try:
        result = run_jvm(cp, args, work, budget)
        if args.trace:
            show_trace(args, result, work)
        else:
            with open(os.path.join(BUILD, f"last-untraced-{args.workload}.json"), "w") as fh:
                json.dump(result, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in result["metrics"].items():
        print(f"{k:34} {v['value']:>16.4f} {v['unit']}")
    print(f"attempted {result['attempted']}, failed {result['failed']}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
