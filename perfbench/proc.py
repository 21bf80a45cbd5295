"""Process-level measurements: CPU and peak RSS of the benchmark's own
process tree (the driver, the local-mode JVM and its Python workers),
plus the no-Spark CPU calibration probe recorded as host context."""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after "(comm)": state(0) ppid(1) ... utime(11)
            # stime(12) cutime(13) cstime(14) ... rss(21)
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int | None = None) -> list[int]:
    """Live pids in the tree under `root` (default: this process),
    root included."""
    root = root or os.getpid()
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


def tree_cpu_seconds() -> float:
    """user+sys CPU seconds consumed by the process tree so far, reaped
    children included (their time lands in the parent's cutime/cstime,
    so nothing is counted twice)."""
    total = 0.0
    for pid in descendants():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15]) / _CLK
    return total


def tree_rss_bytes() -> int:
    """Resident memory of the process tree with shared pages counted
    once: the sum of each process's proportional set size (Python
    workers are forked from one daemon and share most of their pages,
    which a plain RSS sum would count once per worker)."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the tree's resident memory; `peak` is the
    high-water mark. Started and stopped by the caller. A sample reads
    every process's smaps_rollup, tens of ms of kernel time with the
    JVM in the tree, so it is taken once a second."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def calibration_1w(reps: int = 1) -> float:
    """Mean seconds of a fixed 4e6-iteration pure-Python loop on one
    thread: the same no-Spark probe as the repository's calib_1w. Run
    before Spark starts, outside every timed region; it lets wall times
    from different host eras be normalized."""
    vals = []
    for _ in range(reps):
        t = time.perf_counter()
        s = 0
        for i in range(4_000_000):
            s += i
        vals.append(time.perf_counter() - t)
    return sum(vals) / len(vals)
