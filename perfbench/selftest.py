"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py          # everything (~10 min, starts Spark)
    python3 perfbench/selftest.py --quick  # references and plumbing only (seconds)

Checks that the single-process references agree with brute force on small
graphs, that span self-times and the event-log parser add up, that a
tiny-size run of every workload passes its gate with error_rate 0, that a
deliberately perturbed output (one score, one label, one text byte, the
triangle total) makes the gate fail, and that a checkout holding only
BENCHMARK.json and perfbench/ exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, oracles  # noqa: E402

FAILURES: list[str] = []


def _scratch() -> str:
    base = os.path.join(ROOT, ".perfbench", "selftest")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def expect(name: str, ok: bool, detail: str = ""):
    print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}".rstrip(), flush=True)
    if not ok:
        FAILURES.append(name)


def _random_graph(rng, n, m):
    src = rng.integers(0, n, m)
    dst = rng.integers(0, n, m)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def test_oracles():
    rng = np.random.default_rng(7)
    n = 40
    src, dst = _random_graph(rng, n, 150)
    used = np.unique(np.concatenate([src, dst]))
    ids, s, d = oracles.compact(used * 3 + 11, src * 3 + 11, dst * 3 + 11)
    expect("compact keeps id order", np.array_equal(ids[s], src * 3 + 11))
    k = len(ids)

    # PageRank: dense-matrix power iteration
    out = np.bincount(s, minlength=k)
    score, steps = np.full(k, 1.0 / k), 0
    while True:
        new = np.full(k, 0.15 / k)
        for a, b in zip(s, d):
            new[b] += 0.85 * score[a] / out[a]
        steps += 1
        diff = np.sqrt(((new - score) ** 2).sum())
        score = new
        if diff <= 1e-8:
            break
    got, got_steps = oracles.pagerank(k, s, d, tol=1e-8)
    expect("pagerank matches loop", got_steps == steps
           and np.allclose(got, score / score.sum(), rtol=1e-12))
    half, half_steps = oracles.pagerank(k, s, d, tol=1e-8, max_iterations=4)
    expect("pagerank max_iterations", half_steps == 4)

    # components: BFS
    u, v = np.minimum(s, d), np.maximum(s, d)
    adj = {i: set() for i in range(k)}
    for a, b in zip(u, v):
        adj[a].add(b)
        adj[b].add(a)
    label = {}
    for start in range(k):
        if start in label:
            continue
        stack, comp = [start], []
        while stack:
            x = stack.pop()
            if x in label:
                continue
            label[x] = None
            comp.append(x)
            stack.extend(adj[x])
        for x in comp:
            label[x] = min(comp)
    cc, _ = oracles.components(k, u, v)
    expect("components match BFS", [label[i] for i in range(k)] == cc.tolist())

    # PLP: per-node dictionary counting
    sym_s, sym_d = np.concatenate([u, v]), np.concatenate([v, u])
    labels = list(range(k))
    for _ in range(3):
        new = labels[:]
        for node in range(k):
            counts = {}
            for a, b in zip(sym_s, sym_d):
                if b == node:
                    counts[labels[a]] = counts.get(labels[a], 0) + 1
            if counts:
                new[node] = min(counts, key=lambda lab: (-counts[lab], lab))
        labels = new
    expect("label_propagation matches loop",
           oracles.label_propagation(k, sym_s, sym_d, 3).tolist() == labels)

    # triangles: all vertex triples
    edges = {(a, b) for a, b in zip(u, v)}
    brute = sum(1 for a, b, c in itertools.combinations(range(k), 3)
                if (a, b) in edges and (a, c) in edges and (b, c) in edges)
    expect("total_triangles matches triples", oracles.total_triangles(u, v) == brute,
           f"({brute} triangles)")


def test_plumbing():
    tr = harness.Tracer("t", enabled=True)
    tr.pass_id = "p1"
    with tr.span("job"):
        with tr.span("pagerank.iterate"):
            with tr.span("iterative.save"):
                pass
            with tr.span("iterative.save"):
                pass
        with tr.span("sources.extract_links"):
            pass
    spans = tr.of_pass("p1")
    job = spans[0]
    self_sum = sum(harness.self_time(spans, s) for s in spans)
    expect("span self-times add up to the job", abs(self_sum - (job["end"] - job["start"])) < 1e-9)
    expect("self time excludes children", harness.total(spans, "pagerank.iterate", True)
           <= harness.total(spans, "pagerank.iterate"))
    off = harness.Tracer("t", enabled=False)
    with off.span("job"):
        pass
    expect("disabled tracer records nothing", off.spans == [])

    d = _scratch()
    try:
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "p1:pagerank"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
             "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                              "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                       "Local Bytes Read": 2**19},
                              "Disk Bytes Spilled": 0}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True},
             "Task Metrics": {}},
        ]
        with open(os.path.join(d, "events_1_app"), "w") as fh:
            fh.write("\n".join(json.dumps(e) for e in events) + "\n")
        row = harness.engine_rows(d)["p1:pagerank"]
        expect("event log folds onto job groups",
               row["jobs"] == 1 and row["tasks"] == 2 and row["failed_tasks"] == 1
               and row["run_s"] == 1.5 and row["shuffle_write_mb"] == 1.0
               and row["shuffle_read_mb"] == 0.5)
        gc_log = os.path.join(d, "gc.log")
        with open(gc_log, "w") as fh:
            fh.write("[0.24s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) "
                     "20M->17M(254M) 5.3ms\n"
                     "[3.50s][info][gc] GC(5) Concurrent Mark Cycle 12.3ms\n"
                     "[13.7s][info][gc] GC(9) Pause Young (Concurrent Start) "
                     "(G1 Humongous Allocation) 153M->149M(254M) 22.8ms\n")
        expect("GC log gives the heap after the pauses in a window",
               harness.heap_after_gc_mb(gc_log, 1.0, 20.0) == 149.0
               and harness.heap_after_gc_mb(gc_log, 0.0, 1.0) == 17.0)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    mem = harness.PeakRSS(interval=0.05)
    with mem:
        code = ("import subprocess, sys, time; x = bytearray(64 << 20); "
                "subprocess.run([sys.executable, '-c', 'x = bytearray(32 << 20); "
                "import time; time.sleep(0.5)'])")
        child = subprocess.Popen([sys.executable, "-c", code])
        mem.watch(child.pid)
        child.wait()
    expect("peak_rss sums a process and its python children", mem.mb >= 90,
           f"({mem.mb:.0f} MB)")

    from perfbench import record
    expect("BENCHMARK.json matches the benchmark's metric lists", record.check())


def run_bench(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return proc.returncode, result, proc.stderr


def test_runs():
    from perfbench.run import WORKLOAD_NAMES

    base = ["--size", "tiny", "--seconds", "1", "--seed", "5"]
    for w in WORKLOAD_NAMES:
        rc, res, err = run_bench(["--workload", w, "--trace", "1", *base])
        ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
        expect(f"tiny {w} passes its gate", ok,
               "" if ok else f"rc={rc} {res and {k: res[k] for k in ('attempted', 'failed')}}")
        if not ok:
            print(err[-3000:])
    for w, kind in (("crawl_rank", "score"), ("crawl_rank", "text"), ("rank_resume", "score"),
                    ("rmat_undirected", "label"), ("rmat_undirected", "triangles")):
        rc, res, _ = run_bench(["--workload", w, "--trace", "0", "--perturb", kind, *base])
        expect(f"perturbed {kind} fails the {w} gate",
               rc != 0 and res is not None and not res["correct"] and res["failed"] >= 1)

    bare = _scratch()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, _ = run_bench(["--workload", "crawl_rank", "--seed", "1"], cwd=bare)
        expect("bare checkout exits non-zero without a result", rc != 0 and res is None)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="skip the Spark runs")
    args = ap.parse_args()
    test_oracles()
    test_plumbing()
    if not args.quick:
        test_runs()
    print(f"{len(FAILURES)} failed" if FAILURES else "all passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
