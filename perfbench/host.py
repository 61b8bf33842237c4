"""Host readings from /proc: CPU steal, load average, process-tree CPU time.

Wall time on a shared host moves with CPU steal (time the hypervisor gave
the host's vCPUs to another tenant); CPU time charged to the benchmark's
own processes moves much less. Every run records both, so a gap between
wall and CPU figures can be told apart from a change in the program.
"""

from __future__ import annotations

import os
import signal
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. Field 0 here is the state (field 3 in proc(5))."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return raw[raw.rfind(")") + 2:].split()


def cpu_counters() -> dict[str, int]:
    """Aggregate CPU counters (clock ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    names = ["user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal"]
    return dict(zip(names, vals))


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of all CPU ticks between two readings that were stolen."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def process_age_s(pid: int | None = None) -> float:
    """Seconds since the process started (proc(5) starttime vs uptime)."""
    fields = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / _TICKS


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of `root` (default: this process)."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_cpu_ms(root: int | None = None) -> float:
    """CPU time (user+system, ms) of a process and all its live
    descendants, plus what their already-reaped children used
    (cutime+cstime). Covers the driver Python, the JVM and the PySpark
    workers it forks."""
    root = root or os.getpid()
    ticks = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks * 1000.0 / _TICKS


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def reap(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for `pids` to exit; SIGKILL whatever outlives `timeout_s`.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    live = list(pids)
    while live and time.monotonic() < deadline:
        live = [p for p in live if _alive(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in live):
        time.sleep(0.05)
    return live


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
