"""Measurement from outside the program: process-tree RSS, host CPU
steal, layer spans with Spark job groups, and task metrics read back
from the session's event log."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import platform
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def descendants(pid: int) -> dict[int, int]:
    """Live descendants of ``pid`` (driver JVM, Python workers), each
    mapped to its parent."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children[ppid].append(int(d))
    out, todo = {}, [pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def _pss(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a tree's sum
    counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


# HotSpot's JIT compiler threads; the benchmark's JVM keeps them alive
# for its whole life (-XX:-UseDynamicNumberOfCompilerThreads), so their
# time can be taken out of the process total exactly
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file."""
    with open(path) as f:
        stat = f.read()
    return stat[stat.find("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants, each including its reaped children, without the
    JVM's JIT compiler threads.  A worker that exits moves into its
    parent's reaped-children time, so the sum only grows."""
    ticks = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            _, fields = _stat(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                if name in _JIT_THREADS:
                    ticks -= int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return ticks / _TICK


class PeakRss:
    """Samples the resident memory (PSS) summed over this process and its
    descendants every 50 ms; ``peak_mb`` is the highest sum seen and
    ``cpu_s`` the CPU time the sampling itself cost."""

    INTERVAL = 0.05

    def __init__(self):
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t0 = time.thread_time()
        self._sample_tree()
        self.cpu_s += time.thread_time() - t0

    def _sample_tree(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        exe = {p: _exe(p) for p in (*tree, me)}
        # a child forked by the JVM to run a tool shares the JVM's pages
        # until it execs: counting it would add a second JVM
        pids = [p for p, parent in tree.items()
                if not (exe[p] == exe.get(parent) and "java" in exe[p])]
        self.peak = max(self.peak, sum(_pss(p) for p in (*pids, me)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor stole between two samples (the
    same method as the repo's bench.py)."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / max(sum(d), 1)


def ref_loop_s(n: int = 1_000_000) -> float:
    """CPU seconds a fixed pure-Python loop takes on this thread: how fast
    a core of the host is right now, logged beside each job."""
    t0 = time.thread_time()
    x = 0
    for i in range(n):
        x += i * i
    return time.thread_time() - t0


def git_rev(root: str) -> str:
    """HEAD commit read from ``.git`` without running git; "unknown" in an
    exported checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def host_context(root: str, cores: int, spark_version: str) -> dict:
    return {
        "nproc": os.cpu_count(),
        "local": f"local[{cores}]",
        "loadavg": os.getloadavg(),
        "git_rev": git_rev(root),
        "spark": spark_version,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Layer spans recorded from the benchmark side.  Each span sets a
    Spark job group named after the layer, so the event log attributes
    task metrics to it; ``self_s`` is the span's wall time minus the time
    its child spans cover."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.total_s: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self._child: list[float] = []

    @contextlib.contextmanager
    def span(self, name: str):
        self.stack.append(name)
        self._child.append(0.0)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.stack.pop()
            child = self._child.pop()
            self.total_s[name] += dt
            self.self_s[name] += dt - child
            if self._child:
                self._child[-1] += dt
                self.sc.setJobGroup(self.stack[-1], self.stack[-1])
            else:
                self.sc.setJobGroup("untraced", "untraced")

    @contextlib.contextmanager
    def wrapped(self, owner, attr: str, name: str, unless_in: tuple = ()):
        """Run every call of ``owner.attr`` inside a span named ``name``
        (except calls made inside a span listed in ``unless_in``)."""
        orig = getattr(owner, attr)
        tracer = self

        def call(*a, **k):
            if tracer.stack and tracer.stack[-1] in unless_in:
                return orig(*a, **k)
            with tracer.span(name):
                return orig(*a, **k)

        setattr(owner, attr, call)
        try:
            yield
        finally:
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def task_metrics_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from an uncompressed event log.
    Times in seconds, bytes in MB."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        p for p in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = group or "untraced"
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    g = out[stage_group.get(e["Stage ID"], "untraced")]
                    g["run_s"] += m["Executor Run Time"] / 1e3
                    g["cpu_s"] += m["Executor CPU Time"] / 1e9
                    g["gc_s"] += m["JVM GC Time"] / 1e3
                    sw = m["Shuffle Write Metrics"]
                    g["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / 2**20
                    g["shuffle_records"] += sw["Shuffle Records Written"]
                    g["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
                    g["output_mb"] += m["Output Metrics"]["Bytes Written"] / 2**20
    for g in out.values():
        g["nonjvm_s"] = max(g["run_s"] - g["cpu_s"] - g["gc_s"], 0.0)
    return out
