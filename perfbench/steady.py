#!/usr/bin/env python3
"""Steadiness self-check: run each workload on several seeds and report
every end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload dashboard] [--second-seed-set]

For each workload it makes `--runs` untraced runs of BENCHMARK.json's
`run_seconds` with seeds 1..runs and
prints, per metric, the median and the interquartile range as a share
of the median (the spread), next to the metric's bound. With
`--second-seed-set` it repeats the runs on seeds 101..100+runs and
prints how far the second median moved from the first, as a share of
the first, which shows the metrics hold off the seeds they were tuned
on. Every run's metrics are kept in .bench_build/perfbench/steady-<workload>.json.
Exits 1 if a run fails or any metric's spread or shift exceeds its bound. Run from the repository root.
"""

import argparse
import json
import statistics
import subprocess
import sys


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed ({p.returncode}):\n{p.stderr[-2000:]}")
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--second-seed-set", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for w in workloads:
        sets = [range(1, args.runs + 1)]
        if args.second_seed_set:
            sets.append(range(101, 101 + args.runs))
        results = [[run(w, s, seconds) for s in seeds] for seeds in sets]
        with open(f".bench_build/perfbench/steady-{w}.json", "w") as fh:
            json.dump({"seeds": [list(s) for s in sets], "runs": results}, fh)
        print(f"\n{w}: {args.runs} runs of {seconds} s per seed set")
        print(f"{'metric':22} {'median':>12} {'spread':>8} {'bound':>6}"
              + ("  2nd median   shift" if len(sets) > 1 else ""))
        for name, bound in bounds.items():
            vals = [r[name] for r in results[0]]
            med, sp = statistics.median(vals), spread(vals)
            line = f"{name:22} {med:12.4f} {sp:8.3f} {bound:6.2f}"
            if sp > bound:
                ok = False
                line += "  SPREAD OVER BOUND"
            if len(sets) > 1:
                med2 = statistics.median(r[name] for r in results[1])
                shift = (med2 - med) / med
                line += f"  {med2:11.4f} {shift:+7.3f}"
                if abs(shift) > bound:
                    ok = False
                    line += "  SHIFT OVER BOUND"
            print(line)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
