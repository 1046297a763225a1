"""Host readings from /proc: the run's noise record and peak memory.

Nothing here starts a process; the noise record is the whole run's steal
share from two /proc/stat readings plus the 1-minute load average, so a
run on a busy box shows in its output.
"""

from __future__ import annotations

import os
import resource


def cpu_times() -> list[int] | None:
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def noise(before: list[int] | None, after: list[int] | None) -> dict:
    out = {}
    if before and after and len(before) > 7:
        delta = [b - a for a, b in zip(before, after)]
        out["steal_pct"] = 100.0 * delta[7] / max(1, sum(delta))
    try:
        with open("/proc/loadavg") as fh:
            out["load1"] = float(fh.read().split()[0])
    except (OSError, ValueError, IndexError):
        pass
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live descendant: the driver JVM and the
    Python workers it forks. Time the host's hypervisor steals from the
    guest is not in it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(entry)
        parent[pid] = int(f[1])
        ticks[pid] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid() -> int | None:
    """The driver JVM: PySpark's gateway process (spark-submit execs into
    java), or else a java child of this process."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    candidates = [proc.pid] if proc is not None else []
    me = str(os.getpid())
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[1] == me:
                        candidates.append(int(entry))
            except (OSError, IndexError):
                continue
    for pid in candidates:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS in MB of the driver Python process and the driver JVM
    (VmHWM)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = _jvm_pid()
    jvm_kb = _vm_hwm_kb(pid) if pid else 0
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}
