"""Spans, process counters and driver-JVM counters for the benchmark.

Spans are recorded around the benchmark's own calls into the package's
public functions (nothing inside the package is instrumented). They are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


class NullTracer:
    """Tracing off: ``span`` costs one generator frame."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    """In-memory span recorder: (id, name, start, end, parent)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, root: dict) -> dict[str, float]:
        """Self time per span name over ``root``'s subtree: a span's
        duration minus its children's (the benchmark's calls run one
        after another, so children never overlap)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        acc: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            ch = kids.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(c["end"] - c["start"]
                                                for c in ch)
            acc[s["name"]] = acc.get(s["name"], 0.0) + own
            todo.extend(ch)
        return acc

    def roots(self, prefix: str) -> list[dict]:
        return [s for s in self.spans
                if s["parent"] is None and s["name"].startswith(prefix)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span_cost_s(n: int = 2000) -> float:
    """Measured cost of recording one span (open + close)."""
    tr = Tracer()
    t = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            pass
    return (time.perf_counter() - t) / n


def drain_kernel_profiles(path: str) -> dict[str, float]:
    """Sum, then remove, the per-task profile files the encode kernel
    writes when ``CPS_KERNEL_PROF`` names a directory
    (``engine.make_encode_kernel``: ``select_s`` codec choice,
    ``encode_s`` page encoding, ``wall_s``, ``pages``, ``bytes``)."""
    tot: dict[str, float] = {}
    for name in os.listdir(path):
        f = os.path.join(path, name)
        with open(f) as fh:
            prof = json.load(fh)
        os.remove(f)
        for k, v in prof.items():
            tot[k] = tot.get(k, 0) + v
    return tot


# --- the benchmark's own process tree (read from /proc of its pids) -------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every descendant."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def tree_cpu_s() -> float:
    """CPU-seconds (user + system, incl. reaped children) of the tree."""
    tot = 0
    for p in tree_pids():
        st = _stat(p)
        if st is not None:
            tot += sum(int(x) for x in st[11:15])
    return tot / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the tree, in MB."""
    tot = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        tot += int(line.split()[1])
        except OSError:
            pass
    return tot * 1024 / 1e6


def cpu_clock() -> tuple[float, float]:
    """(busy, steal) seconds of this machine's CPUs, all CPUs summed,
    from /proc/stat. Busy is user + nice + system + irq + softirq; steal
    is time a CPU wanted to run and the host ran something else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _CLK, v[7] / _CLK


def granted(c0: tuple[float, float], c1: tuple[float, float]) -> float:
    """Share of the CPU time asked for between two ``cpu_clock`` readings
    that the host granted: busy / (busy + steal), 1.0 when idle."""
    busy, steal = c1[0] - c0[0], c1[1] - c0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


class JvmClock:
    """Compile and GC time of the driver JVM from its management beans."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        jit = self._comp.getTotalCompilationTime() / 1e3
        gc = sum(g.getCollectionTime() for g in self._gcs) / 1e3
        return jit, gc
