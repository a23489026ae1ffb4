"""Memory, hypervisor steal and clean-up of this process and its
descendants (the local-mode JVM and its Python workers), read from
/proc. CPU time and ambient load come from the repository's ``bench.py``."""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            fields = _stat_fields(int(ent))
            if fields:
                parent[int(ent)] = int(fields[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return sorted(tree)


def tree_memory_bytes() -> int:
    """Resident memory of the tree. Python processes count their
    proportional set size: a page shared by N processes (forked Python
    workers and their daemon) counts 1/N in each. The JVM shares no
    pages with them and counts its resident set, read from
    ``/proc/<pid>/status`` in O(1): its ``smaps_rollup`` walks a
    multi-GB address space (about 13 ms, holding the JVM's memory-map
    lock) and would slow the passes it measures."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                java = f.read().strip() == "java"
            path, field = ((f"/proc/{pid}/status", "VmRSS:") if java
                           else (f"/proc/{pid}/smaps_rollup", "Pss:"))
            with open(path) as f:
                for line in f:
                    if line.startswith(field):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            continue   # exited mid-scan
    return total


def steal_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs: the hypervisor's share."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


class PeakMemory:
    """Samples the tree's memory on a background thread; ``stop``
    returns the peak in bytes."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_memory_bytes())

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def start(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


def stop_descendants(timeout_s: float = 20.0) -> list[int]:
    """TERM, then KILL, every descendant still alive; wait until all
    have ended. Returns the pids that had to be signalled."""
    me = os.getpid()
    pids = [p for p in tree_pids() if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            _reap()
            # pids are captured up front: a worker whose parent died is
            # re-parented away from this tree but must still be waited for
            if not any(_alive(p) for p in pids):
                return pids
            time.sleep(0.1)
    return pids


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
