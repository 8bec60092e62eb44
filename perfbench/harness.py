"""Measurement plumbing for the benchmark: spans, operation counts, peak
resident memory, JIT compiler CPU, host steal time, and the parsers of the
JVM's GC log and the Spark event log.

Nothing here imports pyspark or networkit_spark, so the module loads in a
bare checkout and the self-test can exercise it without a session.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

ENGINE_LAYERS = ("sources", "pagerank", "iterative", "components", "labelprop", "triangles")
ENGINE_FIELDS = (
    ("jobs", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("run_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
)


class Ops:
    """Operations attempted and failed; an operation is a layer call or a
    correctness check. error_rate = failed / attempted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    @contextmanager
    def call(self, name: str):
        self.attempted += 1
        try:
            yield
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{name}: {type(exc).__name__}: {exc}")
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed {detail}".rstrip())
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once at the end. When enabled it also tags every Spark job started
    inside a span with the job group "<pass>:<layer>", so the event log can
    be folded back onto the layers. Disabled, span() costs one branch."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run_id": self.run_id, "pass": self.pass_id}
        self.spans.append(rec)
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else "")

    def _set_group(self, span_name: str):
        if self.spark is None:
            return
        layer = span_name.split(".", 1)[0] if span_name else "none"
        self.spark.sparkContext.setJobGroup(f"{self.pass_id}:{layer}", span_name)

    def of_pass(self, pass_id: str) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def dump(self, path: str, extra: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(spans: list[dict], span: dict) -> float:
    """A span's duration minus the part its child spans cover."""
    return _dur(span) - sum(_dur(c) for c in spans if c["parent"] == span["id"])


def total(spans: list[dict], name: str, self_only: bool = False) -> float:
    """Summed duration (or self time) of every span called `name`."""
    return sum(self_time(spans, s) if self_only else _dur(s)
               for s in spans if s["name"] == name)


class PeakRSS:
    """Peak resident memory of the driver JVM plus its Python processes
    (pyspark.daemon and the workers it forks): VmHWM from /proc/<pid>/status,
    polled in a background thread and kept per pid, so workers that exit
    before the end still count. Short-lived helpers the JVM forks (chmod,
    jspawnhelper) are left out: right after fork they report the JVM's own
    pages. The benchmark process, which runs the references, is excluded."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.jvm: int | None = None
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def watch(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        if self.jvm is None:
            return
        pids = [self.jvm] + [p for p in descendants(self.jvm) if _comm(p).startswith("python")]
        for pid in pids:
            kb = _vm_hwm_kb(pid)
            if kb is not None and kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    @property
    def mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


class JitCPU:
    """CPU seconds of the driver JVM's JIT compiler threads. HotSpot starts
    and retires compiler threads on demand, and a retired thread's CPU time
    leaves /proc with it, so a background thread reads each compiler
    thread's /proc/<jvm>/task/<tid>/stat every `interval` and keeps the last
    reading of every thread it has seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.jvm: int | None = None
        self._compiler: dict[str, bool] = {}
        self._ticks: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="jit-cpu", daemon=True)

    def watch(self, jvm_pid: int):
        self.jvm = jvm_pid

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.seconds()

    def seconds(self) -> float:
        """Compiler-thread CPU seconds so far, read now."""
        with self._lock:
            if self.jvm is not None:
                base = f"/proc/{self.jvm}/task"
                try:
                    tids = os.listdir(base)
                except OSError:
                    tids = []
                for tid in tids:
                    try:
                        if tid not in self._compiler:
                            with open(f"{base}/{tid}/comm") as fh:
                                self._compiler[tid] = "CompilerThre" in fh.read()
                        if self._compiler[tid]:
                            with open(f"{base}/{tid}/stat") as fh:
                                fields = fh.read().rsplit(")", 1)[1].split()
                            self._ticks[tid] = int(fields[11]) + int(fields[12])
                    except OSError:
                        continue
            return sum(self._ticks.values()) / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the second field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


_GC_PAUSE = re.compile(r"^\[(\d+\.\d+)s\].*\bPause\b.*?(\d+)M->(\d+)M\(\d+M\)")


def heap_after_gc_mb(gc_log: str, start_s: float, end_s: float) -> float:
    """Largest heap occupancy right after a GC pause logged between two
    moments of JVM uptime, from a -Xlog:gc file (0 if none was)."""
    peak = 0.0
    try:
        with open(gc_log) as fh:
            for line in fh:
                m = _GC_PAUSE.match(line)
                if m and start_s <= float(m.group(1)) <= end_s:
                    peak = max(peak, float(m.group(3)))
    except OSError:
        pass
    return peak


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks; the
    children terms hold processes it has reaped (the JVM's launcher, workers
    pyspark.daemon has collected)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def engine_cpu_s(jvm: int | None) -> float:
    """CPU seconds used so far by the engine: this process (the PySpark
    driver, which also generates inputs and runs the references), the
    driver JVM and its Python processes. Time the hypervisor steals from a
    vCPU is not charged to any of them."""
    t = os.times()
    total = t.user + t.system
    if jvm is not None:
        pids = [jvm] + [p for p in descendants(jvm) if _comm(p).startswith("python")]
        total += sum(_cpu_ticks(p) for p in pids) / os.sysconf("SC_CLK_TCK")
    return total


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen between two /proc/stat readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total else 0.0


def engine_rows(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Fold a Spark event log onto job groups "<pass>:<layer>": jobs, tasks,
    failed tasks, executor run time, GC time, shuffle bytes and spill."""
    rows: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}
    for path in _event_files(event_log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none:none"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    _row(rows, group)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    row = _row(rows, stage_group.get(ev.get("Stage ID"), "none:none"))
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    row["tasks"] += 1
                    row["failed_tasks"] += 1 if info.get("Failed") else 0
                    row["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    row["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    row["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    row["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return rows


def _event_files(event_log_dir: str) -> list[str]:
    """Event files in write order; Spark 4 nests them in eventlog_v2_<app>/."""
    found = []
    for base, _, names in os.walk(event_log_dir):
        for n in names:
            if not n.startswith("appstatus"):
                found.append(os.path.join(base, n))
    return sorted(found, key=lambda p: [int(t) if t.isdigit() else t
                                        for t in p.replace("_", " ").split()])


def _row(rows: dict, group: str) -> dict[str, float]:
    if group not in rows:
        rows[group] = {f: 0.0 for f, _ in ENGINE_FIELDS}
    return rows[group]
