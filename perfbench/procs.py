"""CPU and memory of this process and everything it started, from /proc.

The tree is the benchmark's own process, the Spark JVM it launches, the
pyspark daemon and the Python workers the daemon forks.  CPU is summed
``utime + stime + cutime + cstime`` over the live tree, so a child that
exits and is reaped still counts through its parent's ``cutime``;
``getrusage(RUSAGE_CHILDREN)`` would miss children that are still alive.
Memory is the summed ``VmRSS`` of the tree, sampled by a thread.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """-> (ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    rest = data[data.rindex(b")") + 2:].split()
    # fields after "pid (comm) ": state ppid ... utime(11) stime cutime cstime
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def tree(root: int | None = None) -> list[int]:
    """PIDs of ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    total = 0
    for pid in tree() if pids is None else pids:
        st = _stat(pid)
        if st is not None:
            total += st[1]
    return total / _CLK


def _status(pid: int) -> dict | None:
    """``/proc/<pid>/status`` as {key: first word of the value}."""
    try:
        with open(f"/proc/{pid}/status") as f:
            return {k: v.split()[0] for k, _, v in
                    (line.partition(":") for line in f) if v.split()}
    except OSError:
        return None


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


def rss_mb(pids: list[int], field: str = "VmRSS") -> float:
    """Summed ``field`` of ``/proc/<pid>/status`` (``VmRSS``, or the
    high-water mark ``VmHWM``) over ``pids``, in MB.

    A ``java`` process whose parent is ``java`` is skipped: the JVM starts
    subprocesses (Hadoop's local file system runs ``chmod`` per file it
    writes) through ``posix_spawn``, whose child shares the JVM's memory
    until it execs, so its ``VmRSS`` is the JVM's a second time.  One
    sample of a lake job that caught such a child read 13 GB for a 7 GB
    tree."""
    kb = 0
    for pid in pids:
        st = _status(pid)
        if st is None or field not in st:
            continue
        if st["Name"] == "java" and _comm(int(st["PPid"])) == "java":
            continue
        kb += int(st[field])
    return kb / 1024.0


class RssSampler:
    """Peak summed RSS of the process tree while the ``with`` block runs,
    per lap: ``lap()`` returns the peak since the previous lap."""

    def __init__(self, interval_s: float = 0.1, refresh_s: float = 1.0):
        self.interval_s, self.refresh_s = interval_s, refresh_s
        self._lap_peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> None:
        mb = rss_mb(pids)
        with self._lock:
            self._lap_peak = max(self._lap_peak, mb)

    def _run(self) -> None:
        pids, refreshed = tree(), time.monotonic()
        while True:
            self._sample(pids)
            if self._stop.wait(self.interval_s):
                return
            if time.monotonic() - refreshed >= self.refresh_s:
                pids, refreshed = tree(), time.monotonic()

    def lap(self) -> float:
        self._sample(tree())
        with self._lock:
            peak, self._lap_peak = self._lap_peak, 0.0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def reap_descendants(timeout_s: float = 30.0) -> list[int]:
    """Wait for every descendant to end; kill what outlives the timeout.
    Returns the PIDs that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree() if p != me]
        if not left:
            return []
        if time.monotonic() >= deadline:
            break
        time.sleep(0.2)
        _reap_zombies()
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    time.sleep(0.5)
    _reap_zombies()
    return left


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_resource_tracker() -> None:
    """A spawn pool leaves multiprocessing's tracker process running until
    the interpreter exits; stop it now so no started process outlives the
    run."""
    from multiprocessing import resource_tracker
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def cpu_stat() -> list[int]:
    """Machine-wide CPU ticks: user nice system idle iowait irq softirq
    steal (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took between two ``cpu_stat``s."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
