"""Facts about the machine a run lands on: core count, memory, the driver
heap sized from them, CPU steal, and peak resident memory; and the
process tree a run leaves behind, which it must reap before it exits."""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import time

#: steal above this share of the box's CPU time during the timed region
#: labels the run contaminated (a noisy neighbour, not a regression)
STEAL_LIMIT = 0.05
USER_HZ = os.sysconf("SC_CLK_TCK")
#: the thread name ("C1 CompilerThread0", "C2 CompilerThread1", cut to 15
#: characters by the kernel) HotSpot gives its JIT compiler threads
JIT_THREAD = " CompilerThre"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise OSError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of the machine's memory, between 1 and 16 GiB: local mode
    runs every executor thread inside the driver JVM."""
    return max(1024, min(16384, mem_total_mb() // 4))


def steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


#: iterations of the speed probe's loop
PROBE_ITERS = 500_000
#: the probe's CPU seconds at the reference box speed, near its median
#: within runs on four cores of a shared host (0.037-0.060 s)
PROBE_NOMINAL_S = 0.05


def speed_probe_s() -> float:
    """CPU seconds of a fixed pure-Python loop: how fast the box runs now.
    No package or Spark code runs in it, so no change to either moves it."""
    t0, x = time.process_time(), 0
    for i in range(PROBE_ITERS):
        x += i * i % 7
    return time.process_time() - t0


def contaminated(steal_delta: int, seconds: float) -> bool:
    return steal_delta > STEAL_LIMIT * nproc() * USER_HZ * seconds


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one) and
    all its descendants: here the Python driver, the Spark JVM and its
    Python workers. Reaped children count through ``cutime``/``cstime``.
    CPU time leaves out the time a noisy neighbour steals from the box.
    The JVM's JIT compiler threads are left out too: they keep compiling
    for many passes after warm-up, and charge whichever call runs then."""
    root = os.getpid() if root is None else root
    times, children = _proc_table()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0) - _jit_ticks(pid)
        todo.extend(children.get(pid, ()))
    return total / USER_HZ


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the HotSpot compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                comm, rest = fh.read().rsplit(")", 1)
        except OSError:
            continue
        if JIT_THREAD in comm:
            total += sum(int(x) for x in rest.split()[11:13])
    return total


def _proc_table() -> tuple[dict[int, int], dict[int, list[int]]]:
    """CPU ticks of every process, and the children of every process."""
    times: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after the parenthesised command name
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        times[pid] = sum(int(x) for x in rest[11:15])
    return times, children


def descendants() -> list[int]:
    """Every process below this one."""
    children = _proc_table()[1]
    found, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def become_subreaper() -> None:
    """Make orphaned descendants children of this process, not of init:
    Spark's Python worker daemon outlives the JVM that starts it by a
    moment, and must still be reaped here."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> list[int]:
    """Wait until no process is left below this one: for 5 s they may end
    by themselves, then each gets SIGTERM, and from 10 s SIGKILL. Returns
    the pids still alive after 30 s (none, unless a process cannot be
    killed)."""
    grace_s, give_up_s = 5.0, 30.0
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants()
        elapsed = time.monotonic() - t0
        if not left or elapsed > give_up_s:
            return left
        if elapsed > grace_s:
            sig = signal.SIGKILL if elapsed > 2 * grace_s else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024
