#!/usr/bin/env python3
"""Smoke run of the benchmark at tiny size, plus the traced-run parity
check and the tracing overhead.

    python3 perfbench/smoke.py [--seed N] [--workload NAME ...]

For each workload it runs perfbench/run.py --tiny twice with the same
seed, untraced and traced, and fails (exit 1) unless:
- both runs exit 0 and end with the result JSON, correct, failed == 0;
- the untraced run prints every end_to_end metric of BENCHMARK.json,
  by name with its unit, and the traced run every per_layer metric;
- per-epoch stats (pages, new_nodes, deltas, walks_updated, promoted,
  neardup_cands, ...) are identical with tracing on and off, and
  per-epoch Spark job counts differ by at most one: the engine's own
  count varies by one between identical untraced runs (145 vs 144 jobs
  for the tiny crawl-delta epoch of seed 1).
It prints the tracing overhead per end-to-end metric (traced minus
untraced). Takes ~10 minutes on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict, list]:
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys: {sorted(result)}")
    printed = {}
    for line in lines:
        m = re.match(rf"{re.escape(workload)}: (\S+) = (\S+) (\S+)$", line)
        if m:
            printed[m.group(1)] = (float(m.group(2)), m.group(3))
    epochs = next(
        json.loads(line[len("epochs "):]) for line in lines
        if line.startswith("epochs ")
    )
    return result, printed, epochs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    problems = []
    for w in args.workload:
        plain, plain_printed, plain_epochs = run(w, args.seed, 0)
        traced, traced_printed, traced_epochs = run(w, args.seed, 1)
        for mode, res, key in (("untraced", plain, "end_to_end"),
                               ("traced", traced, "per_layer")):
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} {mode}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w} {mode}: metrics {sorted(set(want) ^ set(got))} "
                                f"or units differ from BENCHMARK.json {key}")
            printed = plain_printed if mode == "untraced" else traced_printed
            for name, unit in want.items():
                if printed.get(name, (None, None))[1] != unit:
                    problems.append(f"{w} {mode}: {name} not printed with unit {unit}")
        same_stats = ([e["stats"] for e in plain_epochs]
                      == [e["stats"] for e in traced_epochs])
        plain_jobs = [e["jobs"] for e in plain_epochs]
        traced_jobs = [e["jobs"] for e in traced_epochs]
        if not same_stats or len(plain_jobs) != len(traced_jobs) or any(
            abs(a - b) > 1 for a, b in zip(plain_jobs, traced_jobs)
        ):
            problems.append(f"{w}: parity broken\n untraced {plain_epochs}\n"
                            f" traced   {traced_epochs}")
        for m in spec["end_to_end"]:
            a, unit = plain_printed[m["name"]]
            b, _ = traced_printed[m["name"]]
            print(f"{w}: tracing overhead {m['name']} = {b - a:+.4g} {unit} "
                  f"(untraced {a:.4g}, traced {b:.4g})")
        print(f"{w}: epoch stats {'identical' if same_stats else 'DIFFER'}; "
              f"jobs per epoch untraced {plain_jobs}, traced {traced_jobs}")
    for p in problems:
        print("FAIL", p)
    print("smoke", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
