"""Host readings that stamp each run: CPU steal, a canary, memory."""

from __future__ import annotations

import os
import time
from pathlib import Path


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def canary() -> float:
    """Seconds for a fixed pure-Python workload (~0.1 s on an idle core)."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(p.name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root_pid: int):
    """``root_pid`` and every live descendant."""
    kids = _children()
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        yield pid
        todo.extend(kids.get(pid, []))


def peak_rss_mb(root_pid: int) -> float:
    """Summed VmHWM of ``root_pid`` and every live descendant.

    Called with this process's pid it covers the benchmark, the driver
    JVM it launched and the JVM's Python workers.
    """
    return sum(_hwm_kb(pid) for pid in _tree(root_pid)) / 1024.0


# comm prefixes of the JVM's JIT compiler threads (comm is cut at 15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    ticks = 0
    for task in Path(f"/proc/{pid}/task").glob("*/stat"):
        try:
            stat = task.read_text()
        except OSError:
            continue  # thread exited since the listing
        comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
        if comm.startswith(JIT_THREADS):
            ticks += sum(int(x) for x in rest.split()[11:13])  # utime stime
    return ticks


def cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid``, its live descendants
    and the children they have reaped, less the time of the JVM's JIT
    compiler threads.

    JIT compilation runs on its own threads alongside the timed passes
    and took more CPU than the engine's task threads (C2 + C1 ~35 CPU-s
    against ~13 CPU-s of executor tasks over one ``operator_tail`` run),
    in amounts that follow compile-queue timing rather than the work the
    ops do.
    """
    ticks = 0
    for pid in _tree(root_pid):
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the listing
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        ticks -= _jit_ticks(pid)
    return ticks / os.sysconf("SC_CLK_TCK")
