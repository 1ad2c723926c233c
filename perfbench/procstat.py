"""CPU time and peak resident memory of a process tree, read from /proc.

The tree is the benchmark worker and every process below it: the JVM
that PySpark launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int) -> list[int]:
    return [pid for pid, _ in _tree_edges(root)]


def _tree_edges(root: int) -> list[tuple[int, int | None]]:
    """(pid, parent pid) of every process in the tree."""
    kids = _children_map()
    out, todo = [], [(root, None)]
    while todo:
        pid, parent = todo.pop()
        out.append((pid, parent))
        todo.extend((k, pid) for k in kids.get(pid, ()))
    return out


def _exe(pid: int | None) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except (OSError, TypeError):
        return None


def _jvm_fork(pid: int, parent: int | None) -> bool:
    """A child of the JVM that is still the JVM's executable: a fork
    about to exec a helper command (the JVM's file system layer runs
    some), whose resident pages are the JVM's own."""
    exe = _exe(pid)
    return exe is not None and os.path.basename(exe) == "java" and exe == _exe(parent)


def cpu_seconds(root: int) -> float:
    """User plus system CPU of every live process in the tree, including
    the CPU of children they have already reaped."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _rss_kb(pid: int) -> tuple[str, int]:
    """The process's name and resident kB (0 once it has ended)."""
    name = "?"
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    return name, int(line.split()[1])
    except OSError:
        pass
    return name, 0


class PeakRss:
    """Samples the resident memory of the tree in the background: the sum
    of VmRSS over its live processes, whose highest value seen is the
    peak. Summing each process's own high-water mark (VmHWM) instead
    would add up workers that were never alive at the same time; reading
    Pss from smaps_rollup would take ~20 ms of CPU per JVM sample. Pages
    a forked Python worker shares with its parent are counted in each; a
    fork of the JVM caught before it execs is not counted at all.
    ``cpu_s`` is the CPU the sampling itself has taken, so that it can be
    left out of the tree's CPU; ``at_peak`` the resident MB of each
    process when the peak was seen."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root, self.interval_s = root, interval_s
        self._peak_kb = 0
        self.at_peak: list[tuple[str, float]] = []
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        t0 = time.thread_time()
        procs = [_rss_kb(pid) for pid, parent in _tree_edges(self.root)
                 if not _jvm_fork(pid, parent)]
        total = sum(kb for _, kb in procs)
        if total > self._peak_kb:
            self._peak_kb = total
            self.at_peak = sorted(((n, round(kb / 1024.0, 1)) for n, kb in procs if kb),
                                  key=lambda p: -p[1])
        self.cpu_s += time.thread_time() - t0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor has given to other guests, over all CPUs
    since boot (``steal`` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a reading of the host's
    speed at the moment, recorded beside the metrics so that drift of
    the machine itself can be told apart from a change in the program."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append(time.perf_counter() - t0)
    return sorted(times)[1]


def jit_cpu_seconds(root: int) -> float:
    """CPU of the JIT compiler threads of every JVM in the tree. The
    launcher keeps these threads alive for the JVM's lifetime
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of their CPU
    is lost with an exited thread."""
    total = 0
    for pid in tree(root):
        try:
            if os.path.basename(os.readlink(f"/proc/{pid}/exe")) != "java":
                continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            head, tail = stat.rsplit(")", 1)
            if "CompilerThre" in head:
                total += sum(int(f) for f in tail.split()[11:13])  # utime stime
    return total / _TICK
