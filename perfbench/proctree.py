"""CPU seconds and resident memory of this process and its descendants.

The tree is the benchmark's own Python process, the Spark JVM it launches
and the JVM's Python workers. Everything is read from ``/proc``, so the
numbers include work no Spark metric sees: JIT and GC threads, query
planning, and Python worker time outside task accounting.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Usage:
    jvm_cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    rss_bytes: int = 0

    @property
    def cpu_s(self) -> float:
        return self.jvm_cpu_s + self.py_cpu_s

    def __add__(self, other: "Usage") -> "Usage":
        return Usage(
            self.jvm_cpu_s + other.jvm_cpu_s,
            self.py_cpu_s + other.py_cpu_s,
            max(self.rss_bytes, other.rss_bytes),
        )

    def __sub__(self, other: "Usage") -> "Usage":
        return Usage(
            self.jvm_cpu_s - other.jvm_cpu_s,
            self.py_cpu_s - other.py_cpu_s,
            self.rss_bytes,
        )


def _read_stat(pid: str) -> tuple[str, int, float, int]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[1] ppid; [11:15] utime, stime, cutime, cstime; [21] rss pages.
    # cutime/cstime hold reaped children, which are no longer in the tree,
    # so summing all four over live processes counts each tick once.
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return comm, int(fields[1]), cpu, int(fields[21]) * _PAGE


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None  # exited, or a kernel thread


def usage(root: int | None = None) -> Usage:
    """Summed CPU (split JVM / everything else) and RSS of the tree."""
    root = root or os.getpid()
    procs: dict[int, tuple[str, int, float, int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                procs[int(entry)] = _read_stat(entry)
            except (OSError, ValueError, IndexError):
                continue  # exited while we listed /proc
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = Usage()
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        comm, ppid, cpu, rss = procs[pid]
        if comm == "java":
            out.jvm_cpu_s += cpu
        else:
            out.py_cpu_s += cpu
        # The JVM starts commands (chmod, bash) with posix_spawn. Until such
        # a child execs, it shares the JVM's memory, so its RSS reads as the
        # whole JVM's; it still runs the JVM's binary then.
        if procs.get(ppid, ("",))[0] == "java":
            exe = _exe(pid)
            if exe is None or exe == _exe(ppid):
                rss = 0
        out.rss_bytes += rss
        stack.extend(children.get(pid, ()))
    return out


class PeakRss:
    """Samples the tree's RSS on a background thread while entered."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, usage().rss_bytes)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, usage().rss_bytes)
