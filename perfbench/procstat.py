"""CPU, memory and contention readings for a process tree, from ``/proc``.

The tree is this process plus every descendant: the Spark JVM it
launches, that JVM's Python worker daemon and the workers it forks. A
process's ``cutime``/``cstime`` hold the CPU time of children it has
reaped, so summing ``utime + stime + cutime + cstime`` over the live tree
keeps counting workers that exit between two readings.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, str] | None:
    """(comm, ppid, cpu seconds incl. reaped children, state)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5)
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, ppid, cpu, fields[0]


def snapshot() -> dict[int, tuple[str, int, float, str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def tree(snap: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in snap.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in snap and pid not in found:
            found.add(pid)
            todo.extend(kids.get(pid, ()))
    return found


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    ticks = [int(x) for x in parts[1:]]
    return ticks[7], sum(ticks)


def running(root: int | None = None) -> set[int]:
    """Descendants of ``root`` (default: this process) that have not
    exited; an exited child waiting to be reaped does not count."""
    me = root or os.getpid()
    snap = snapshot()
    return {p for p in tree(snap, me) if p != me and snap[p][3] != "Z"}


def cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree under ``root`` (default: this
    process), reaped children included."""
    snap = snapshot()
    return sum(snap[p][2] for p in tree(snap, root or os.getpid()))


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live tree process's peak resident set (``VmHWM``).

    Per-process peaks, read when asked, rather than sampled sums: a
    sampled sum counts the address space of a short-lived child the JVM
    spawns twice, and misses peaks between samples."""
    total_kb = 0
    for pid in tree(snapshot(), root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:  # exited since the snapshot
            continue
    return total_kb / 1024


class ContentionWindow:
    """What else used the host during a window: the CPU-steal share and
    every JVM / Spark process outside our tree that used more than 5% of
    a core (the forensics ``bench.py`` records)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def __enter__(self) -> "ContentionWindow":
        self._t0 = time.perf_counter()
        self._host0 = host_cpu()
        self._snap0 = snapshot()
        return self

    def __exit__(self, *exc) -> None:
        wall = max(time.perf_counter() - self._t0, 1e-9)
        steal1, total1 = host_cpu()
        steal0, total0 = self._host0
        snap1 = snapshot()
        mine = tree(snap1, self.root) | tree(self._snap0, self.root)
        siblings = []
        for pid, (comm, _, cpu, _) in snap1.items():
            if pid in mine or pid not in self._snap0:
                continue
            share = (cpu - self._snap0[pid][2]) / wall
            if share > 0.05 and _is_jvm_or_spark(pid, comm):
                siblings.append({"pid": pid, "cpu_share": round(share, 3),
                                 "comm": comm})
        self.record = {
            "cpu_steal_frac": round((steal1 - steal0) / max(total1 - total0, 1), 4),
            "sibling_jvms": siblings,
            "contended": bool(siblings),
        }


def _is_jvm_or_spark(pid: int, comm: str) -> bool:
    if "java" in comm:
        return True
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"spark" in f.read().lower()
    except OSError:
        return False
