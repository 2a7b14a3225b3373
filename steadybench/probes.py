"""Process-tree, JVM-thread and host counters read from /proc.

Everything here is a cheap file read, so it is taken around every unit in
untraced runs too: per-unit CPU of the whole process tree (this Python
driver, the Spark JVM and any Python workers it forks), the JIT and GC
thread CPU inside the JVM, the tree's peak resident memory, the host's steal
and other-process CPU that mark a contaminated window, and a host-speed
reading for the slowdowns that show as neither.
"""

from __future__ import annotations

import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            # the comm field may hold spaces; everything after ')' splits
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _comm(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(f"/proc/{name}/stat")
        if st:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU-seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        st = _stat_fields(f"/proc/{pid}/stat")
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each process's resident high-water mark (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def java_pid() -> int | None:
    for pid in tree_pids():
        if _comm(f"/proc/{pid}/comm") == "java":
            return pid
    return None


def _thread_kind(name: str) -> str | None:
    if name.startswith(("C1 Compiler", "C2 Compiler", "JVMCI")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return None


def jvm_thread_cpu(pid: int | None) -> dict[int, tuple[str, int]]:
    """tid → (kind, CPU ticks) for the JVM's JIT and GC threads."""
    out: dict[int, tuple[str, int]] = {}
    if pid is None:
        return out
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        kind = _thread_kind(_comm(f"/proc/{pid}/task/{tid}/comm"))
        if kind is None:
            continue
        st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if st:
            out[int(tid)] = (kind, int(st[11]) + int(st[12]))
    return out


def jvm_delta_s(before: dict, after: dict) -> dict[str, float]:
    """JIT/GC CPU-seconds spent between two ``jvm_thread_cpu`` readings.
    Threads born in between count from zero; threads that died are lost
    (HotSpot retires idle compiler threads, so this is a lower bound)."""
    out = {"jit": 0.0, "gc": 0.0}
    for tid, (kind, ticks) in after.items():
        prev = before.get(tid, (kind, 0))[1]
        out[kind] += max(0, ticks - prev) / _TICK
    return out


def host_cpu_ticks() -> dict[str, int]:
    """Host-wide busy, steal and total ticks from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq = v[:7]
    steal = v[7] if len(v) > 7 else 0
    return {
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
        "total": user + nice + system + idle + iowait + irq + softirq + steal,
    }


class Window:
    """Counters over one unit: wall, tree CPU, JVM JIT/GC CPU and host load."""

    def __init__(self, jpid: int | None):
        self.jpid = jpid

    def __enter__(self) -> "Window":
        self._cpu = tree_cpu_s()
        self._jvm = jvm_thread_cpu(self.jpid)
        self._host = host_cpu_ticks()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t
        self.cpu_s = tree_cpu_s() - self._cpu
        jvm = jvm_delta_s(self._jvm, jvm_thread_cpu(self.jpid))
        self.jit_cpu_s, self.gc_cpu_s = jvm["jit"], jvm["gc"]
        host = host_cpu_ticks()
        d = {k: host[k] - self._host[k] for k in host}
        total = max(1, d["total"])
        self.steal_frac = d["steal"] / total
        # busy host ticks not spent by this process tree
        self.other_busy_frac = max(0.0, d["busy"] - self.cpu_s * _TICK) / total


def host_speed_s(reps: int = 3) -> float:
    """Median wall of a fixed pure-Python loop. The same work reads slower
    when the host runs slower for reasons this guest cannot see as steal
    (another tenant on the same cores, a lower clock)."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)
