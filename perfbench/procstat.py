"""Process-tree CPU and memory from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the PySpark worker daemon and workers the JVM forks. Spark's own
metrics see only JVM threads, so Python-worker CPU and whole-tree memory are
read here.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_cpu_seconds(root: int) -> float:
    return cpu_seconds(descendants(root))


def python_workers(root: int) -> list[int]:
    """PySpark daemon and worker processes below ``root``."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


def reset_peak_rss(root: int) -> None:
    """Restart every tree member's peak-RSS watermark (VmHWM) from now."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of the tree members' VmHWM, in MiB."""
    kib = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            pass
    return kib / 1024.0

