"""CPU time of the whole benchmark process tree, less JIT compilation.

On a shared virtual machine the wall time of a request moves with other
tenants' load, which comes and goes over tens of seconds: one 10-second
window can read 1.8x slower than the next. CPU time leaves out the time
the hypervisor gives to other tenants (steal), so it moves far less, while
it still counts the work the engine does: Spark planning and scheduling in
the JVM, executor tasks, GC, Python UDF workers and the Python driver.

The JVM's JIT compiler threads are left out. Right after start-up they
compile for tens of seconds on the same cores, and how much of that lands
in one build or request varies from run to run by more than the work
itself; their time shows in the wall-time figures instead.
"""

from __future__ import annotations

import ctypes
import os
import time
from typing import Dict, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
# thread names as the kernel keeps them (first 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _process_clock(pid: int) -> int:
    """Clock id of a whole process's CPU time (Linux
    ``MAKE_PROCESS_CPUCLOCK(pid, CPUCLOCK_SCHED)``): nanosecond precision,
    threads that already exited included."""
    return ctypes.c_int32(((~pid) << 3) | 2).value


def _proc_stat(pid: str) -> Tuple[int, int]:
    """(ppid, cutime + cstime in clock ticks) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # fields after "(comm)" start at state (3); ppid is 4, cutime 16, cstime 17
    fields = data[data.rindex(")") + 2:].split()
    return int(fields[1]), int(fields[13]) + int(fields[14])


def _tree_seconds() -> float:
    """CPU seconds used so far by this process and every process under it.
    A child that exited and was reaped is counted in its parent's
    children times."""
    root = os.getpid()
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                table[int(name)] = _proc_stat(name)
            except OSError:  # exited meanwhile
                pass
    total = 0.0
    for pid, (_, child_ticks) in table.items():
        p = pid
        while p in table and p != root:
            p = table[p][0]
        if p != root:
            continue
        try:
            total += time.clock_gettime(_process_clock(pid))
        except OSError:
            continue
        total += child_ticks / _TICK
    return total


def _jit_ns(pid: int) -> Dict[int, int]:
    """Run time so far (ns) of each live JIT thread of process ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                out[int(tid)] = int(f.read().split()[0])
        except OSError:  # exited meanwhile
            continue
    return out


class CpuClock:
    """``mark()`` then ``since(mark)``: CPU seconds the process tree used
    in between, less what the JVM's JIT threads used. A JIT thread that
    exits in between would have its last stretch counted as work, so the
    JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``."""

    def __init__(self, jvm_pid: int):
        self._jvm_pid = jvm_pid

    def mark(self) -> Tuple[float, Dict[int, int]]:
        return _tree_seconds(), _jit_ns(self._jvm_pid)

    def since(self, mark: Tuple[float, Dict[int, int]]) -> float:
        total0, jit0 = mark
        total1, jit1 = self.mark()
        jit = sum(ns - jit0.get(tid, 0) for tid, ns in jit1.items())
        return total1 - total0 - jit / 1e9
