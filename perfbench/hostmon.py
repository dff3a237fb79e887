"""Process-tree memory sampling and host-noise markers, from /proc.

``RssSampler`` sums the resident set of this process and every descendant
(the JVM and, under it, the Python daemon and workers) every 200 ms; a
walk of /proc costs a few ms, so sampling more often takes CPU from the
cores Spark runs on.
``HostMarkers`` and ``foreign_busy_frac`` record what can make a run slow
that the benchmark does not control: CPU taken by other tenants, kernel
(system) CPU time and transparent-huge-page faults, which the repository's
earlier measurements traced to page zeroing in the Python workers.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK") or 100


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background sampler of the peak summed RSS of this process tree."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._peak = 0
        self._peak_parts: dict[str, int] = {}
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = {"driver": _rss_bytes(me), "jvm": 0, "workers": 0}
            for p in descendants(me):
                parts["jvm" if _comm(p) == "java" else "workers"] += _rss_bytes(p)
            total = sum(parts.values())
            with self._lock:
                if total > self._peak:
                    self._peak, self._peak_parts = total, parts
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def peak_parts_mb(self) -> dict[str, float]:
        """How the peak splits between the driver, the JVM and the Python
        workers."""
        with self._lock:
            return {k: v / 2**20 for k, v in self._peak_parts.items()}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _proc_cpu_ticks(pid: int) -> int:
    """utime + stime of a process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _jit_ticks(pid: int) -> int:
    """utime + stime of a JVM's JIT compiler threads. The benchmark starts
    the JVM with -XX:-UseDynamicNumberOfCompilerThreads, so these threads
    live as long as the JVM and none of their time is lost with an exited
    thread."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and every descendant (the
    JVM and the Python workers), as (work, jit): ``jit`` is the JVM's JIT
    compiler threads, ``work`` everything else. Time the hypervisor steals
    from the virtual CPUs is in neither."""
    me = os.getpid()
    ticks = jit = 0
    for p in [me, *descendants(me)]:
        ticks += _proc_cpu_ticks(p)
        if _comm(p) == "java":
            jit += _jit_ticks(p)
    return (ticks - jit) / _HZ, jit / _HZ


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _vmstat() -> dict[str, int]:
    out = {}
    with open("/proc/vmstat") as f:
        for line in f:
            k, _, v = line.partition(" ")
            if k in ("thp_fault_alloc", "pgfault"):
                out[k] = int(v)
    return out


def foreign_busy_frac(sample_s: float = 0.5) -> float:
    """Busy share of all CPUs over a short window taken while this process
    runs nothing: on an otherwise idle host it is ~0."""
    a = _cpu_ticks()
    time.sleep(sample_s)
    b = _cpu_ticks()
    idle = (b[3] + b[4]) - (a[3] + a[4])
    total = sum(b) - sum(a)
    return 1.0 - idle / total if total else 0.0


class HostMarkers:
    """Counters snapshotted at start and read as deltas at the end."""

    def __init__(self):
        self._t = time.perf_counter()
        self._cpu = _cpu_ticks()
        self._vm = _vmstat()
        self.foreign_busy_frac = None

    def delta(self) -> dict:
        cpu, vm = _cpu_ticks(), _vmstat()
        wall = time.perf_counter() - self._t
        d = [b - a for a, b in zip(self._cpu, cpu)]
        total = sum(d) or 1
        out = {
            "foreign_busy_frac_pre": self.foreign_busy_frac,
            "system_cpu_s": (d[2] + d[5] + d[6]) / _HZ,
            "system_cpu_share": (d[2] + d[5] + d[6]) / total,
            "steal_share": d[7] / total if len(d) > 7 else 0.0,
            "thp_fault_alloc": vm.get("thp_fault_alloc", 0) - self._vm.get("thp_fault_alloc", 0),
            "pgfault": vm.get("pgfault", 0) - self._vm.get("pgfault", 0),
            "wall_s": wall,
        }
        try:
            with open("/proc/loadavg") as f:
                out["loadavg_1m"] = float(f.read().split()[0])
        except (OSError, ValueError):
            pass
        return out
