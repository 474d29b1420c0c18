"""Processes seen from /proc: host steal, a process tree's CPU and memory,
and stopping a tree.

The worker's tree is found by parent pid, not by process group: PySpark's
daemon (``pyspark/daemon.py``) moves itself into a group of its own, and
the Python workers it forks stay in that group.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies from /proc/stat, as bench.py counts them."""
    with open("/proc/stat") as f:
        p = f.readline().split()
    busy = int(p[1]) + int(p[2]) + int(p[3]) + int(p[6]) + int(p[7])
    return busy, int(p[8]) if len(p) > 8 else 0


def probe_steal(seconds: float) -> float:
    """Host steal while every core spins for ``seconds``: steal is only
    charged to a virtual CPU that has work to run."""
    spin = f"import time\nt = time.time() + {seconds}\nwhile time.time() < t: pass"
    t0 = cpu_ticks()
    procs = [subprocess.Popen([sys.executable, "-c", spin])
             for _ in range(os.cpu_count() or 1)]
    for p in procs:
        p.wait()
    t1 = cpu_ticks()
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / max(busy + steal, 1)


def wait_for_quiet(limit: float, max_wait: float) -> tuple[float, list[float]]:
    """Probe steal until a one-second probe reads at most ``limit`` or
    ``max_wait`` seconds have passed; returns the wait and the probes.
    On a shared VM the host steals in waves, and a run inside a wave
    measured 15-30% slower (see README.md)."""
    t0 = time.monotonic()
    probes = []
    while True:
        probes.append(probe_steal(1.0))
        if probes[-1] <= limit or time.monotonic() - t0 >= max_wait:
            return time.monotonic() - t0, probes


def _stats() -> dict[int, list[str]]:
    """pid -> the fields of /proc/<pid>/stat after the command name
    (``[1]`` is the parent pid, ``[2]`` the process group)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def tree(root_pid: int, stat: dict[int, list[str]] | None = None) -> list[int]:
    """``root_pid`` and its live descendants, by parent pid."""
    stat = _stats() if stat is None else stat
    children: dict[int, list[int]] = {}
    for pid, fields in stat.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stat:
            out.append(pid)
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and its live descendants."""
    stat = _stats()
    # fields after the name: utime=[11], stime=[12]
    ticks = sum(int(stat[p][11]) + int(stat[p][12]) for p in tree(root_pid, stat))
    return ticks / os.sysconf("SC_CLK_TCK")


def pss_mb(pids: list[int]) -> dict[str, float]:
    """Proportional resident memory (PSS) of the JVM and Python processes
    among ``pids``, summed per command name. PSS splits pages shared after
    a fork (the Python workers) among the sharers. Short-lived children
    the JVM spawns for shell commands are skipped: until they exec they
    share the JVM's whole address space and carry its thread's name."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            if not name.startswith(("java", "python")):
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f
                          if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + kb / 1024.0
    return out


class TreeWatch(threading.Thread):
    """Samples the worker's process tree until stopped. ``peak`` is the
    largest summed PSS seen (driver, JVM, PySpark daemon and Python
    workers together), ``at_peak`` its split by command name, and
    ``groups`` every process group a member of the tree was seen in."""

    def __init__(self, root_pid: int, every: float = 0.25):
        super().__init__(daemon=True)
        self.root, self.every, self.peak = root_pid, every, 0.0
        self.at_peak: dict[str, float] = {}
        self.groups: set[int] = {root_pid}
        self.done = threading.Event()

    def sample(self) -> None:
        stat = _stats()
        pids = tree(self.root, stat)
        self.groups.update(int(stat[p][2]) for p in pids)
        by_name = pss_mb(pids)
        if sum(by_name.values()) > self.peak:
            self.peak, self.at_peak = sum(by_name.values()), by_name

    def run(self) -> None:
        while not self.done.wait(self.every):
            self.sample()


def _group_members(groups: set[int]) -> list[int]:
    return [p for p, f in _stats().items() if int(f[2]) in groups]


def stop_tree(proc: subprocess.Popen, watch: TreeWatch) -> None:
    """Kill the worker's tree and every process group seen in it (the JVM
    shares the worker's group; the PySpark daemon and its Python workers
    have one of their own), then wait until all of them have exited."""
    stat = _stats()
    watch.groups.update(int(stat[p][2]) for p in tree(proc.pid, stat))
    watch.groups.discard(os.getpgrp())
    for g in watch.groups:
        try:
            os.killpg(g, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    proc.wait()
    deadline = time.monotonic() + 10
    while _group_members(watch.groups) and time.monotonic() < deadline:
        time.sleep(0.05)
