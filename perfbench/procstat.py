"""Process-tree CPU and memory, host steal and CPU pressure, from /proc.

The benchmark's own process starts the Spark JVM, which starts the
PySpark daemon, which forks the Python workers. CPU is summed over that
whole tree; a child that has exited and been reaped is still counted
through its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the tree. A child caught between its spawn and its
    exec still runs in its parent's address space (the JVM starts helper
    commands that way) and reports the parent's RSS; a child whose
    memory layout and RSS equal its parent's is counted once, as the
    parent."""
    stats = {pid: _stat_fields(pid) for pid in tree_pids(root)}
    total = 0
    for fields in stats.values():
        if not fields:
            continue
        parent = stats.get(int(fields[1]))
        # vsize, rss, rsslim, startcode, endcode, startstack
        if parent and fields[20:26] == parent[20:26]:
            continue
        total += int(fields[21])
    return total * _PAGE / 2**20


def host_cpu() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted inside user time
    return vals[7], sum(vals[:8])


def cpu_pressure_total_us() -> int | None:
    """Cumulative microseconds some task waited for a CPU (PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, ValueError, IndexError):
        return None


class PeakRss:
    """Samples the tree's summed RSS on a background thread; ``peak_mb``
    is the highest sum seen. Stop it with :meth:`close`."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        with self._lock:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
