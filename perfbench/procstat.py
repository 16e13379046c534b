"""CPU time and resident memory of the benchmark's process tree, from /proc.

The tree is the benchmark process, the JVM it launches, and the JVM's
descendants (the PySpark daemon and its forked workers). CPU is
utime+stime plus cutime+cstime, so a worker that exits and is reaped
during a measured interval still shows up, in its parent's counters.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return data[data.rindex(")") + 2:].split()


def _ppid_and_cpu(pid: int) -> tuple[int, float] | None:
    f = _stat_fields(f"/proc/{pid}/stat")
    if f is None:
        return None
    # f[0] is field 3 (state): ppid=4, utime=14, stime=15, cutime=16, cstime=17
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), ticks / CLK_TCK


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time at which ``pid`` (default: this process) started."""
    f = _stat_fields(f"/proc/{pid or os.getpid()}/stat")
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return time.time() - uptime + int(f[19]) / CLK_TCK


def box_steal_s() -> float:
    """CPU seconds since boot that the hypervisor ran other guests on this
    machine's CPUs (the ``steal`` column of /proc/stat). It marks runs
    taken while the host was busy."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _ppid_and_cpu(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class CpuSnapshot:
    """CPU seconds of the tree at one instant, split into the benchmark
    process itself, the JVM, and the JVM's descendants (Python daemon and
    workers)."""

    def __init__(self, root: int, jvm: int | None):
        self.bench = self.jvm = self.python = 0.0
        jvm_tree = set(descendants(jvm)) if jvm else set()
        for pid in descendants(root):
            st = _ppid_and_cpu(pid)
            if st is None:
                continue
            if pid == root:
                self.bench += st[1]
            elif pid == jvm:
                self.jvm += st[1]
            elif pid in jvm_tree:
                self.python += st[1]
            else:
                self.bench += st[1]

    @property
    def total(self) -> float:
        return self.bench + self.jvm + self.python


def cpu_delta(a: CpuSnapshot, b: CpuSnapshot) -> dict:
    return {
        "tree": b.total - a.total,
        "bench": b.bench - a.bench,
        "jvm": b.jvm - a.jvm,
        "python": b.python - a.python,
    }


def jvm_thread_cpu(jvm: int) -> dict[str, float]:
    """CPU seconds of each live JVM thread, keyed by ``tid:name``."""
    out = {}
    base = f"/proc/{jvm}/task"
    for tid in os.listdir(base):
        f = _stat_fields(f"{base}/{tid}/stat")
        if f is None:
            continue
        try:
            with open(f"{base}/{tid}/comm") as c:
                name = c.read().strip()
        except FileNotFoundError:
            continue
        out[f"{tid}:{name}"] = (int(f[11]) + int(f[12])) / CLK_TCK
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_MB
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


class RssPeak:
    """Background sampler of the summed RSS of the JVM and its descendants;
    ``peak_mb`` is the largest sum seen between ``start()`` and ``stop()``.
    The process list is refreshed every ``rescan`` samples so workers that
    fork mid-call are picked up without a full /proc scan per sample."""

    def __init__(self, jvm: int, interval: float = 0.05, rescan: int = 10):
        self.jvm, self.interval, self.rescan = jvm, interval, rescan
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while True:
            if n % self.rescan == 0:
                pids = descendants(self.jvm)
            n += 1
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in pids))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb
