"""Write or check BENCHMARK.json from the benchmark's own definitions.

    python3 perfbench/record.py           # rewrite BENCHMARK.json at the repo root
    python3 perfbench/record.py --check   # exit 1 if BENCHMARK.json is stale

The metric names and units come from perfbench/run.py, so the file and the
JSON line a run prints cannot drift apart.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PATH = os.path.join(ROOT, "BENCHMARK.json")
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402

RUN_SECONDS = 10
# The time budget (4 + 22 x workloads runs in 3420 s) leaves about 49 s a
# run for three workloads. At these sizes a run (a ~10 s session start, one
# cold pass, then 3, 2 and 1 timed passes on rank_resume, crawl_rank and
# rmat_undirected) took 30-35, 32-43 and 40-50 s on a quiet host, about
# 2700 s for the 70 runs.
WORKLOADS = (
    ("crawl_rank",
     "ingest+rank, the only one where sources works: 5000 seeded pages x 16 links (~80k arcs), "
     "link extraction, PageRank to 1e-3 (2 supersteps); costs are CPU s, wall is trace.job_s"),
    ("rank_resume",
     "durable-checkpoint PageRank, no ingest: seeded RMAT 2^13 x 8 (~59k arcs) to 3e-3, stop "
     "after 1 superstep, timed resume of 2 more; CPU s miss I/O wait, wall is trace.job_s"),
    ("rmat_undirected",
     "shuffle/groupBy/applyInPandas, no PageRank or ingest: seeded RMAT 2^9 x 8 symmetrized "
     "(~2.8k edges), two-phase CC, 1 PLP sweep, triangles; CPU s miss lost parallelism"),
)
# Over ten seeds per workload on the shared 4-vCPU sandbox the spread
# (interquartile range / median) was 0.10-0.20 for job_cpu_s, 0.09-0.21 for
# the per-CPU rates, 0.10-0.15 for setup_s and 0.01-0.03 for peak RSS. CPU
# seconds follow the host's load: with steal under 0.5% crawl_rank's runs
# still fell into a fast (7.6-7.9 s) and a slow (9.0-10.1 s) group minutes
# apart. So the CPU bounds are the largest allowed; peak RSS, with the heap
# fixed, gets 0.15.
BOUNDS = {"job_cpu_s": 0.25, "setup_s": 0.25, "pages_per_cpu_s": 0.25,
          "edges_per_cpu_s": 0.25, "peak_rss_mb": 0.15}
HIGHER = {"pages_per_cpu_s", "edges_per_cpu_s", "sources.arc_yield"}


def build() -> dict:
    def better(name: str) -> str:
        return "higher" if name in HIGHER else "lower"

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": better(n), "bound": BOUNDS[n]}
                       for n, u in run.END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": better(n)}
                      for n, u in run.per_layer_names()],
    }


def check() -> bool:
    try:
        with open(PATH) as fh:
            return json.load(fh) == build()
    except (OSError, json.JSONDecodeError):
        return False


def main() -> int:
    if "--check" in sys.argv[1:]:
        ok = check()
        print("BENCHMARK.json is current" if ok else "BENCHMARK.json is stale")
        return 0 if ok else 1
    with open(PATH, "w") as fh:
        json.dump(build(), fh, indent=2)
        fh.write("\n")
    print(f"wrote {PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
