"""Host facts and process-tree accounting read from ``/proc``.

The benchmark's driver process, the JVM it launches and the python
workers the JVM forks form one process tree.  CPU seconds and resident
memory are summed over that tree, so work moved between the driver,
the JVM and the workers still shows.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cores() -> int:
    """Cores this process may run on (honours taskset/cgroup affinity)."""
    return len(os.sched_getaffinity(0))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a python worker that exits is folded into its parent's cutime)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class PeakRss:
    """Samples the tree's summed RSS on a background thread while the
    ``with`` block runs; ``peak_mb`` is the largest sample."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Poll until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and (_stat_fields(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                continue
    return total
