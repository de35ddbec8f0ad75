"""Process accounting from /proc (psutil is not a dependency).

The Spark JVM is launched as a child of the benchmark process and
forks the Python worker daemon and its workers, so "the pipeline's
processes" are exactly this process's descendants.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, List

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _parents() -> Dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            out[int(name)] = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return out


def descendants(root: int | None = None) -> List[int]:
    """Every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: Dict[int, List[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: Iterable[int]) -> float:
    """user+system CPU consumed so far by the given live processes."""
    total = 0
    for pid in pids:
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12])  # utime, stime
    return total / _CLK_TCK


def peak_rss_mb(pids: Iterable[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def competing_processes() -> List[str]:
    """Spark JVMs or pytest runs that are not ours: concurrent load of this
    kind once moved a pipeline leg by 2x on a 4-core host."""
    ours = set(descendants()) | {os.getpid()}
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in ours:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "org.apache.spark.deploy.SparkSubmit" in cmd or "pytest" in cmd:
            found.append(f"{name}:{cmd[:120].strip()}")
    return found
