"""Peak memory of this process's descendants, read from /proc.

The Spark driver JVM is a child of the benchmark process and the Python
workers are children of the JVM. A sampler thread walks the process tree
every ``interval`` seconds and sums each process's proportional set size
(``Pss`` in ``/proc/<pid>/smaps_rollup``): pages the forked Python workers
share with their daemon count once in the sum, not once per worker. The peak
reported is the largest sum seen.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class PeakMemory:
    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: list[int] = []  # per-process Pss at the peak, largest first
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        parts = [_pss_kb(pid) for pid in descendants()]
        if sum(parts) > self.peak_kb:
            self.peak_kb = sum(parts)
            self.peak_parts = sorted(parts, reverse=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
