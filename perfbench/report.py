"""Run every benchmarked workload untraced and traced at one seed, print
every metric with its unit, and the tracing overhead.

    python3 perfbench/report.py --seed 1 [--workloads crawl_rank,rank_resume]

Tracing overhead = the traced run's job time minus the untraced run's at the
same seed, in CPU seconds and in wall seconds: the traced run enables the
Spark event log, tags each layer call with a job group and records spans,
and does no other work.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float | None]:
    """The run's JSON result and its median wall job_s from the stderr report."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    sys.stderr.write(proc.stderr[-4000:] if proc.returncode else "")
    wall = re.search(r"wall: job_s = ([0-9.eE+-]+) s", proc.stderr)
    return json.loads(proc.stdout.strip().splitlines()[-1]), float(wall[1]) if wall else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        plain, plain_wall = run_once(w, args.seed, bench["run_seconds"], 0)
        traced, _ = run_once(w, args.seed, bench["run_seconds"], 1)
        ok &= plain["correct"] and traced["correct"]
        print(f"== {w} seed={args.seed}")
        for res, label in ((plain, "untraced"), (traced, "traced")):
            rate = res["failed"] / res["attempted"]
            print(f"  [{label}] correct={res['correct']} "
                  f"error_rate={rate:.6g} ({res['failed']}/{res['attempted']})")
            for name, m in res["metrics"].items():
                print(f"    {name} = {m['value']:.6g} {m['unit']}")
        if "job_cpu_s" in plain["metrics"] and "trace.job_cpu_s" in traced["metrics"]:
            base = plain["metrics"]["job_cpu_s"]["value"]
            over = traced["metrics"]["trace.job_cpu_s"]["value"] - base
            print(f"  tracing overhead = {over:.6g} CPU s ({100 * over / base:.3g}% of job_cpu_s)")
        if plain_wall is not None and "trace.job_s" in traced["metrics"]:
            over = traced["metrics"]["trace.job_s"]["value"] - plain_wall
            print(f"  tracing overhead = {over:.6g} s wall ({100 * over / plain_wall:.3g}% of job_s)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
