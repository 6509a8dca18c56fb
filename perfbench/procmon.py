"""Peak resident memory of this process and all its descendants.

Samples the proportional set size (``Pss`` of ``/proc/<pid>/smaps_rollup``)
of every process in the tree rooted at the benchmark's own pid — the Spark
JVM and its Python workers included — on a background thread, and keeps
the highest sum seen. PSS splits a page shared by several processes among
them, so the forked Python workers, which share most of their pages with
the worker daemon, are not counted once per fork as VmRSS would.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

SAMPLE_INTERVAL_S = 0.5


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command, which may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def _pss_kib(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _pss_kib(pid)
        todo.extend(kids.get(pid, ()))
    return total * 1024


class PeakMemory:
    """``with PeakMemory() as m: ...`` then ``m.peak_bytes``."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(os.getpid()))
