"""CPU and peak-RSS sampler over a process tree, read from /proc.

The tree is a root pid and every live descendant (the Spark JVM, the
PySpark daemon and its Python workers). CPU counts each process's own
user+system time plus the time of children it has already reaped, so a
worker that exits between two readings is still counted through its
parent.

RSS leaves out the JVM's spawn helpers. Hadoop's local file system
starts `chmod` and the like through `jspawnhelper` while parquet is
written; until the helper has exec'd, it shares the JVM's memory and its
RSS reads as the whole JVM's, which would count the JVM twice at random
moments. Such a helper is any child of the JVM that is not a Python
process; once exec'd it holds about a MiB.
"""

from __future__ import annotations

import os
import resource
import threading

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE = resource.getpagesize()


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, stat fields from the state field on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[tuple[str, str, list[str]]]:
    """(command name, parent's command name, stat fields from the state
    field on) of `root` and its live descendants."""
    by_parent: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        stat = _stat(int(name))
        if stat is None:
            continue
        pid = int(name)
        stats[pid] = stat
        by_parent.setdefault(int(stat[1][1]), []).append(pid)
    out, todo = [], [(root, "")]
    while todo:
        pid, parent_comm = todo.pop()
        if pid in stats:
            comm, fields = stats[pid]
            out.append((comm, parent_comm, fields))
            todo.extend((child, comm) for child in by_parent.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    # fields after the state: ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(
        int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for _, _, f in _tree(root)
    ) * _TICK_S


def is_spawn_helper(comm: str, parent_comm: str) -> bool:
    """A child of the JVM that is not a Python process (see above)."""
    return parent_comm == "java" and not comm.startswith("python")


def tree_rss_bytes(root: int) -> int:
    return sum(
        int(f[21]) for comm, parent_comm, f in _tree(root)
        if not is_spawn_helper(comm, parent_comm)
    ) * _PAGE


class TreeMonitor:
    """Samples the tree's total RSS every `interval_s` on a background
    thread. `reset_peak()` opens a measuring window and
    `peak_rss_bytes()` reads its peak so far."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak_rss_bytes(self) -> int:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak
