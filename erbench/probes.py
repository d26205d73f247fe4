"""Host-level probes read from ``/proc``: guest CPU time, process-tree
memory, and directory sizes. None of them starts a Spark job."""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> dict:
    """Guest-wide CPU seconds from the first line of ``/proc/stat``.

    ``busy`` is user + nice + system + irq + softirq (guest time is already
    inside user); idle, iowait and steal are excluded, so it counts work
    done rather than wall time passed."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    ticks = [int(x) for x in fields] + [0] * 10
    user, nice, system, idle, iowait, irq, softirq, steal = ticks[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / _CLK_TCK,
        "steal": steal / _CLK_TCK,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:
                pass
    return total


def is_tmpfs(path: str) -> bool:
    """True when the longest mount point containing ``path`` is tmpfs."""
    path = os.path.realpath(path)
    best, fstype = "", ""
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, kind = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, kind
    return fstype == "tmpfs"


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every live process below it (the JVM, the PySpark
    daemon and its workers for a Spark driver)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss(root_pid: int) -> dict[int, int]:
    """Proportional resident bytes (PSS) of each process in the tree under
    ``root_pid``: a page shared by n processes counts 1/n to each, so the
    tree's sum counts every resident page once. (Summed RSS would count the
    JVM twice whenever it forks a helper command that has not yet exec'd.)"""
    out = {}
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


class PeakMemory:
    """Background sampler of the peak resident memory of this process tree,
    plus the bytes in ``spill_dir`` when that directory is on tmpfs
    (shuffle files there are RAM too)."""

    # a sample reads smaps_rollup of every process in the tree (about 10 ms
    # with a multi-GB JVM heap) while the measured calls run, so it is sparse
    def __init__(self, spill_dir: str, interval: float = 1.0):
        self.interval = interval
        self.spill_dir = spill_dir if is_tmpfs(spill_dir) else None
        self.peak = 0
        self.peak_parts: list[int] = []  # per-process MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_pss(os.getpid())
        total = sum(rss.values())
        if self.spill_dir:
            total += dir_bytes(self.spill_dir)
        if total > self.peak:
            self.peak = total
            self.peak_parts = sorted((b >> 20 for b in rss.values()), reverse=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "PeakMemory":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
