"""Peak resident memory of the driver JVM and its Python workers, sampled
from /proc.

The workers are the ``python*`` processes under the JVM. Other children
are left out: a child the JVM has just forked (to run a shell command)
reports the JVM's own memory until it execs, and would count it twice.
The sampler sums VmRSS every ``interval`` seconds on a background thread
and keeps the largest sum seen."""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def tree_rss_kb(root: int) -> int:
    """VmRSS of ``root`` plus every Python process below it."""
    return _rss_kb(root) + sum(_rss_kb(pid) for pid in tree_pids(root)[1:]
                               if _is_python(pid))


class PeakRss:
    """``with PeakRss(pid) as p: ...`` then ``p.peak_mb``."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, tree_rss_kb(self.root_pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
