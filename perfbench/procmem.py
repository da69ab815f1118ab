"""Peak memory of a process tree, sampled from /proc.

Each process counts its proportional set size (PSS): its resident pages,
with every page shared by several processes divided among them. Summed
plain RSS double-counts the JVM whenever it forks a helper (the child
shares all of the parent's pages until it execs) and the Python workers
the PySpark daemon forks, which made the peak swing by the JVM's whole
size between identical runs.
"""

from __future__ import annotations

import os
import threading


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(root: int) -> dict[int, tuple[str, int]]:
    """pid → (command name, PSS bytes) for ``root`` and its descendants."""
    kids = children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                out[pid] = (f.read().strip(), _pss_bytes(pid))
        except OSError:  # exited while sampling
            pass
    return out


class PeakMemory:
    """Background sampler: ``with PeakMemory() as p: ...; p.peak_bytes``."""

    def __init__(self, root: int | None = None, interval: float = 0.5):
        self.root = root if root is not None else os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}
        self.active = True  # samples taken while False are ignored
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        procs = tree_memory(self.root)
        total = sum(b for _, b in procs.values())
        if self.active and total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_command = {}
            for name, b in procs.values():
                self.peak_by_command[name] = self.peak_by_command.get(name, 0) + b

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
