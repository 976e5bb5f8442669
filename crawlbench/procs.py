"""Process-tree helpers: peak resident memory and clean shutdown.

The benchmark's process tree is this Python driver, the Spark driver JVM it
launches, and the Python worker daemon and workers that JVM forks. Both
helpers walk that tree through ``/proc``.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        comm = stat[stat.index("(") + 1:stat.rfind(")")]
        out[int(entry)] = (int(stat[stat.rfind(")") + 2:].split()[1]), comm)
    return out


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in (procs or _procs()).items():
        children.setdefault(ppid, []).append(p)
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid``, its child processes (the driver JVM) and
    every Python process below them. Other processes under the JVM are
    skipped: a JVM thread spawning a helper command is briefly a clone
    that shares, and reports, all of the JVM's memory."""
    procs = _procs()
    total = 0
    for p in [pid, *descendants(pid, procs)]:
        ppid, comm = procs.get(p, (0, ""))
        if p != pid and ppid != pid and not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            pass
    return total


class PeakRSS:
    """Samples the resident memory of this process tree on a background
    thread while the ``with`` block runs; ``peak_mb`` is the highest sum."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_bytes(pid) / 2**20)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] not in "ZX"


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the driver JVM down, and wait until every
    process this one started has exited (killing stragglers). The tree is
    listed first: once the JVM exits, its workers are re-parented away."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in left):
        time.sleep(0.05)
