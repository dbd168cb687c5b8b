#!/usr/bin/env python3
"""Steadiness check: run every workload N times on one commit, each run
with its own seed, and compare each end-to-end metric's spread with the
bound ``BENCHMARK.json`` gives it.

    python3 perfbench/steady.py --runs 10 --out perfbench/results/steadiness.json

Run it from the root of a checkout. Workloads are interleaved run by run, so
a change in host load reaches all of them alike. For each metric it prints
the median, the quartiles (``statistics.quantiles(values, n=4)``), the
spread ``(q3 - q1) / median``, and the medians of the first and second half
of the runs, whose relative difference stands in for a second set of runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=240)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed} exited with {proc.returncode}")
    host = next(line for line in proc.stdout.splitlines() if line.startswith("host "))
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["host"] = json.loads(host[len("host "):])
    result["run_s"] = time.monotonic() - t0
    return result


def summarize(values: list[float], bound: float) -> dict:
    q1, median, q3 = statistics.quantiles(values, n=4)
    half = len(values) // 2
    first, second = statistics.median(values[:half]), statistics.median(values[half:])
    return {
        "median": median,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / median,
        "bound": bound,
        "halves": [first, second],
        "halves_diff": abs(second - first) / first,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.runs):
        for workload in workloads:
            result = run_once(workload, args.seed0 + i, spec["run_seconds"])
            runs[workload].append(result)
            values = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
            print(f"{workload} seed={args.seed0 + i} run_s={result['run_s']:.0f} "
                  f"correct={result['correct']} "
                  f"steal={result['host']['steal_frac']} stolen={result['host']['stolen_share']} "
                  f"setup_wall={result['host']['setup_wall_s']} {values} "
                  f"warmup={result['host']['warmup_pass_s']} passes={result['host']['pass_s']} "
                  f"pass_stolen={result['host']['pass_stolen_share']} "
                  f"codegen={result['host']['pass_codegen_classes']}",
                  flush=True)

    summary = {}
    for workload in workloads:
        summary[workload] = {}
        print(f"\n{workload}: {args.runs} runs, seeds {args.seed0}..{args.seed0 + args.runs - 1}")
        print(f"  {'metric':14s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} "
              f"{'halves':>8s} {'bound':>6s}")
        for name, bound in bounds.items():
            s = summarize([r["metrics"][name]["value"] for r in runs[workload]], bound)
            summary[workload][name] = s
            print(f"  {name:14s} {s['median']:10.4f} {s['q1']:10.4f} {s['q3']:10.4f} "
                  f"{s['spread']:7.3f} {s['halves_diff']:8.3f} {bound:6.2f}")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump({"summary": summary, "runs": runs}, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
