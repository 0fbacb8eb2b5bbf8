"""Process-tree memory and CPU sampling, and shutdown, from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces; ppid is the 2nd field after ")"
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _ppids().items():
        children.setdefault(pp, []).append(p)
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is
    the state, 11/12 utime/stime, 21 rss pages)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class ProcTree(threading.Thread):
    """Samples this process and all its descendants (driver Python,
    the JVM and its Python workers) every ``interval`` seconds: the
    peak resident memory of the tree, and each process's CPU seconds
    as last seen, so a process that exits keeps what it used.

    ``cpu_s()`` is the tree's CPU seconds so far (user + system) minus
    the sampler thread's own, so a difference of two calls is the CPU
    the program spent in between.  Per-process counters are used, not
    cutime/cstime, which would credit a reaped child's whole lifetime
    to the moment it is reaped."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._ticks: dict[int, int] = {}
        self._own_s = 0.0  # CPU of the sampler thread
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        me = os.getpid()
        rss = 0
        with self._lock:
            for pid in [me] + descendants(me):
                f = _stat(pid)
                if f is None:
                    continue
                self._ticks[pid] = int(f[11]) + int(f[12])
                rss += int(f[21]) * PAGE
            self.peak = max(self.peak, rss)
            self.samples += 1

    def cpu_s(self) -> float:
        self._sample()
        with self._lock:
            return sum(self._ticks.values()) / TICK - self._own_s

    def run(self) -> None:
        while not self._stop_evt.is_set():
            t0 = time.thread_time()
            self._sample()
            dt = time.thread_time() - t0
            with self._lock:
                self._own_s += dt
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        if self.is_alive():
            self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_tree(pids: list[int], grace: float = 20.0) -> None:
    """Wait for ``pids`` to exit, terminating then killing stragglers."""
    deadline = time.monotonic() + grace
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.1)
        if not any(_alive(p) for p in pids):
            return
