"""Host and process-tree measurements read from ``/proc``.

Everything here is stdlib only, so the benchmark can sample the host
before any engine code is imported.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from dataclasses import dataclass
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("/proc/meminfo has no MemAvailable line")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (driver JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


@dataclass
class TreeSample:
    """Cumulative counters of the process tree at one instant."""

    cpu_s: float = 0.0
    rchar: int = 0
    wchar: int = 0

    def __sub__(self, other: "TreeSample") -> "TreeSample":
        return TreeSample(
            self.cpu_s - other.cpu_s, self.rchar - other.rchar, self.wchar - other.wchar
        )


def tree_sample() -> TreeSample:
    """CPU seconds (own plus reaped children) and I/O character counts,
    summed over the live process tree."""
    s = TreeSample()
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/io") as f:
                io = dict(line.split(": ") for line in f.read().splitlines())
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        s.cpu_s += sum(int(v) for v in fields[11:15]) / _CLK
        s.rchar += int(io["rchar"])
        s.wchar += int(io["wchar"])
    return s


def tree_pss_bytes() -> int:
    """Proportional set size of the tree: pages shared between processes
    (forked Python workers) are split among them, not counted twice."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the tree's resident memory (as PSS) on one background
    thread and keeps the peak. Use as a context manager so the thread is
    joined."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())


def _cpu_stat() -> dict[str, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
    d = dict(zip(names, vals))
    d["total"] = sum(vals[:8])
    return d


def _psi_cpu_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
    except FileNotFoundError:
        return None
    return int(some[-1].split("=")[1])


class HostWindow:
    """Deltas of host-wide CPU steal and CPU pressure over a run, so a
    noisy-neighbour run can be told apart from a slow program."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.cpu0 = _cpu_stat()
        self.psi0 = _psi_cpu_us()

    def close(self) -> dict:
        wall = time.monotonic() - self.t0
        cpu1, psi1 = _cpu_stat(), _psi_cpu_us()
        ticks = max(1, cpu1["total"] - self.cpu0["total"])
        return {
            "wall_s": wall,
            "steal_share": (cpu1["steal"] - self.cpu0["steal"]) / ticks,
            "busy_share": 1.0
            - (cpu1["idle"] + cpu1["iowait"] - self.cpu0["idle"] - self.cpu0["iowait"]) / ticks,
            "psi_cpu_some_share": None
            if psi1 is None or self.psi0 is None
            else (psi1 - self.psi0) / 1e6 / wall,
        }


def provenance(root: Path) -> dict:
    """Commit and dirty flag of the checkout, or nulls when it is not a
    git work tree (the search stops at ``root``: no parent repository)."""
    if not (root / ".git").exists():
        return {"git_sha": None, "git_dirty": None}

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", str(root), *args], capture_output=True, text=True, check=True,
            timeout=30,
        ).stdout.strip()

    return {"git_sha": git("rev-parse", "HEAD"), "git_dirty": bool(git("status", "--porcelain"))}
