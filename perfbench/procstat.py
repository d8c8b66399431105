"""CPU time and high-water RSS of a process tree, read from /proc.

The tree is this Python process, the Spark JVM it launches and the Python
workers the JVM forks. Both figures are the kernel's own counters
(utime/stime/cutime/cstime and VmHWM), not samples.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """root and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system time of the live tree plus the exited children each
    member has reaped, so a Python worker that ends mid-run still counts."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def peak_rss_mb(root: int) -> dict[int, float]:
    """VmHWM (high-water resident set) of each live process in the tree, MB."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except OSError:
            pass
    return out


def footprint_mb(root: int, peaks: dict[int, float]) -> float:
    """High-water RSS of `root`, of the JVM and of the largest Python worker,
    summed. A sum over every worker would count however many workers
    Spark's pool happened to fork: at two task slots, two or four workers
    had run tasks (about 140 MB each) by the end of otherwise identical
    `rdf_canon` runs, which moved the sum by 8%."""
    jvm = sum(mb for pid, mb in peaks.items() if comm(pid) == "java")
    workers = [mb for pid, mb in peaks.items() if pid != root and comm(pid) != "java"]
    return peaks.get(root, 0.0) + jvm + max(workers, default=0.0)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of `pids` is alive (the JVM's Python workers exit
    once the JVM has closed their pipes)."""
    def alive(pid: int) -> bool:
        fields = _stat_fields(pid)
        return fields is not None and fields[0] != "Z"  # a zombie has ended

    deadline = time.monotonic() + timeout
    while any(alive(pid) for pid in pids):
        if time.monotonic() > deadline:
            raise TimeoutError(f"processes still alive after {timeout} s")
        time.sleep(0.05)


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"
