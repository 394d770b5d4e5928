"""Process-tree CPU and memory, and host CPU busy/steal, read from /proc.

The benchmark process starts the Spark JVM, which starts the Python worker
daemon, which forks the UDF workers; all of them are this process's
descendants, so "the process tree" is this pid plus everything below it.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU-seconds used so far by the tree: each live member's own time plus
    the time of children it has already reaped (so a worker that exits
    between two readings is still counted)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 of /proc/pid/stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int | None = None) -> int:
    """Proportional set size of the tree: forked Python workers share pages
    with their daemon, and PSS charges each shared page once in total."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Background sampler of the tree's resident memory (PSS); ``peak_mb``
    is the largest total seen since ``start``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler",
                                        daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


class HostCpu:
    """Host-wide CPU use between ``__init__`` and ``read``: how many cores
    were busy (anyone's work, not only ours) and the share stolen by the
    hypervisor — the context a timing needs on a shared VM."""

    def __init__(self):
        self._t0 = self._counters()

    @staticmethod
    def _counters() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def read(self) -> dict:
        t1 = self._counters()
        d = [b - a for a, b in zip(self._t0, t1)]
        total = max(sum(d), 1)
        idle = d[3] + d[4]  # idle + iowait
        steal = d[7] if len(d) > 7 else 0
        return {
            "cpu_busy_cores": (1 - idle / total) * (os.cpu_count() or 1),
            "steal_pct": 100.0 * steal / total,
        }


def _alive(pid: int, start: str) -> bool:
    fields = _stat_fields(pid)
    # same pid and start time, and not a zombie awaiting its reaper
    return fields is not None and fields[19] == start and fields[0] != "Z"


def wait_exit(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` (a snapshot of :func:`tree_pids`
    taken while they ran) has ended.  A process orphaned by its parent's
    exit leaves the tree but not this list.  Survivors at the timeout get
    SIGKILL; returns the pids still alive after that."""
    starts = {}
    for pid in pids:
        fields = _stat_fields(pid)
        if pid != os.getpid() and fields is not None:
            starts[pid] = fields[19]
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p, s in starts.items() if _alive(p, s)]
        if not left:
            return []
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            return [p for p in left if _alive(p, starts[p])]
        time.sleep(0.1)
