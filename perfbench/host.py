"""Host readings from ``/proc``: CPU time of the process tree, CPU steal,
core count, JVM peak RSS, and the repository's fsync disk probe."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # Field 2 (comm) may contain spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(entry))
    return kids


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and all its live descendants,
    including children they have already reaped. The JVM and its Python
    workers descend from this process, so they are all counted."""
    kids = _children()
    total = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat.
        total += sum(int(x) for x in f[11:15])
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def cpu_counters() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time stolen by the hypervisor between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    # user nice system idle iowait irq softirq steal (guest is inside user).
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def disk_probe_mb_s() -> float:
    """The fsync'd 64 MB write probe the repository's bench records."""
    from bench import _disk_write_probe_mb_s

    return _disk_write_probe_mb_s()
