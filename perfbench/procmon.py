"""Process-tree monitor: peak summed RSS and Python-worker spawns, from /proc.

One background thread samples the benchmark's own process and its
descendants every ``INTERVAL_S`` seconds. It records the peak of the summed
resident set size of this process, the Spark JVM and the Python workers,
and the set of Python-worker process ids ever seen. Other descendants are
not counted: a child the JVM has forked but not yet exec'd (Hadoop's shell
helpers) still shares the JVM's memory and would count it twice.
"""

from __future__ import annotations

import os
import threading

INTERVAL_S = 0.1
_PAGE = os.sysconf("SC_PAGE_SIZE")
_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def _ppid_map() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(entry)] = int(fields[1])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _kind(pid: int) -> str | None:
    """"jvm", "worker" or None (not counted)."""
    comm = _comm(pid)
    if comm == "java":
        return "jvm"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return None
    if comm.startswith("python") and any(m in cmd for m in _WORKER_MARKERS):
        return "worker"
    return None


class ProcessTreeMonitor:
    """Samples the process tree rooted at this process until ``stop()``."""

    def __init__(self):
        self.peak_rss_bytes = 0
        self.peak_detail: dict[int, tuple[str, int]] = {}  # pid -> (kind, RSS bytes) at the peak
        self.worker_pids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)

    def start(self) -> "ProcessTreeMonitor":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def _kinds(self) -> dict[int, str | None]:
        root = os.getpid()
        parents = _ppid_map()
        children: dict[int, list[int]] = {}
        for pid, ppid in parents.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [root]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return {pid: "driver" if pid == root else _kind(pid) for pid in tree}

    def sample(self) -> None:
        kinds = self._kinds()
        rss = {pid: _rss_bytes(pid) for pid, kind in kinds.items() if kind}
        if sum(rss.values()) > self.peak_rss_bytes:
            self.peak_rss_bytes = sum(rss.values())
            self.peak_detail = {pid: (kinds[pid], b) for pid, b in rss.items()}
        self.worker_pids.update(pid for pid, kind in kinds.items() if kind == "worker")

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(INTERVAL_S)
