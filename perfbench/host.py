"""Host readings taken beside every run, from ``/proc`` only."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process ended while we looked
            continue
        # the command name may hold spaces or ')'; fields follow the last ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _memory_of(pid: int) -> tuple[bytes, str] | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read()
        with open(f"/proc/{pid}/statm") as f:
            return cmdline, f.read()
    except OSError:  # process ended while we looked
        return None


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the driver,
    the JVM it launched and the JVM's Python workers.

    A child that reads exactly as its parent (same command line, same
    ``statm``) is the parent caught between fork or spawn and exec (the
    JVM starts helpers such as ``chmod`` this way): its pages are the
    parent's, so they are counted once."""
    kids = _children()
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        mem = _memory_of(pid)
        if mem is None:
            continue
        todo.extend((kid, mem) for kid in kids.get(pid, ()))
        if mem != parent:
            total += int(mem[1].split()[1]) * _PAGE
    return total


class RssPeak:
    """Samples the process tree's resident memory on a thread while the
    ``with`` block runs and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def wait_for_children(timeout_s: float) -> None:
    """Reap this process's children until none is left (or time is up)."""
    deadline = time.monotonic() + timeout_s
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def control_s(rounds: int = 5, n: int = 300_000) -> float:
    """Median time of a fixed Spark-free CPU loop: when it reads slow,
    the host was busy or slow and every figure of the run is suspect."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[len(times) // 2]


def cpus() -> int:
    return len(os.sched_getaffinity(0))
