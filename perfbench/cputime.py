"""CPU seconds used by a process tree, read from the kernel.

The run's process tree is this Python driver, the driver JVM it
launched, the JVM's Python worker daemon and the workers it forks. A
snapshot sums the scheduler CPU clock (nanoseconds, every thread, live
or exited) of each live process in the tree, plus the time of children
each has already reaped (``/proc/<pid>/stat``, in clock ticks), so the
difference of two snapshots is the CPU the tree used between them. On
a guest whose host time-slices its vCPUs the scheduler clock leaves out
the time a vCPU was held off the host (steal), so this figure depends
far less on how busy the host is than wall time does.

The JVM's JIT compiler threads are read on their own, from their
``schedstat``: their CPU comes in bursts whose timing depends on the
host, not on the work of the query running at the time. The driver JVM
runs with a fixed set of compiler threads
(``-XX:-UseDynamicNumberOfCompilerThreads``), so the threads found at
start are all there are.
"""

from __future__ import annotations

import os
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def parse_stat(text: str) -> tuple[int, int]:
    """``(ppid, reaped children's ticks)`` from one ``/proc/<pid>/stat``
    line; the ticks are cutime + cstime. The command name may hold
    spaces and parentheses, so fields are counted from its last ``)``."""
    fields = text[text.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5): ppid is 4, cutime and cstime 16, 17
    return int(fields[1]), int(fields[13]) + int(fields[14])


def process_clock(pid: int) -> int:
    """The clock id of ``pid``'s whole-process scheduler CPU clock, as
    glibc's ``clock_getcpuclockid`` builds it (CPUCLOCK_SCHED)."""
    return ((~pid) << 3) | 2


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant, including the children they have reaped."""
    root = os.getpid() if root is None else root
    parent, reaped = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid, ticks = parse_stat(fh.read())
        except (OSError, ValueError):  # exited while we listed
            continue
        parent[int(entry)], reaped[int(entry)] = ppid, ticks
    total = 0.0
    for pid, ticks in reaped.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p != root:
            continue
        try:
            total += time.clock_gettime(process_clock(pid)) + ticks * TICK_S
        except OSError:  # exited since the listing
            continue
    return total


def _thread_cpu_s(path: str) -> float:
    with open(path) as fh:
        return int(fh.read().split()[0]) / 1e9


class Meter:
    """Reads ``(tree CPU s, JIT compiler CPU s)`` of this process tree
    and the JVM ``jvm_pid`` in it."""

    def __init__(self, jvm_pid: int):
        task = f"/proc/{jvm_pid}/task"
        self.jit_paths = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as fh:
                if fh.read().startswith(JIT_THREADS):
                    self.jit_paths.append(f"{task}/{tid}/schedstat")
        if not self.jit_paths:
            raise RuntimeError(f"no JIT compiler threads in JVM {jvm_pid}")

    def read(self) -> tuple[float, float]:
        return tree_cpu_s(), sum(_thread_cpu_s(p) for p in self.jit_paths)
