"""Process bookkeeping from /proc: summed RSS of this process's
descendants (the driver JVM and its Python workers) and a clean stop."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> Dict[int, tuple]:
    """pid -> (parent pid, command name) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:  # exited while we listed
            continue
        head, tail = stat.rsplit(")", 1)
        out[int(name)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return out


def descendants(pid: int) -> List[int]:
    return [p for p, _, _ in _descendants(pid)]


def _descendants(pid: int) -> List[tuple]:
    """(pid, parent pid, command name) of every descendant of pid."""
    procs = _procs()
    children: Dict[int, List[int]] = {}
    for child, (parent, _) in procs.items():
        children.setdefault(parent, []).append(child)
    found, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append((c, *procs[c]))
            todo.append(c)
    return found


def spark_processes(pid: int) -> List[int]:
    """The driver JVM (a java child of pid) and the Python processes below
    it. Transient children the JVM spawns share its pages while they
    start, so counting them would count the JVM twice."""
    return [p for p, parent, comm in _descendants(pid)
            if (comm == "java" and parent == pid) or comm.startswith("python")]


def cpu_ticks() -> tuple:
    """(steal, total) ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cpu_probe_ms() -> float:
    """ms for a fixed single-thread Python loop: how fast a core of this
    host runs right now. On a shared host this moves by up to 2x with no
    steal showing in /proc/stat."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i
    return (time.perf_counter() - t0) * 1000


def rss_bytes(pids: List[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss(threading.Thread):
    """Samples the summed RSS of the Spark processes until stopped."""

    def __init__(self, interval_s: float = 0.1):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, rss_bytes(spark_processes(me)))
            self._stop_evt.wait(self.interval_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the gateway JVM and wait until every process
    it started (Python daemon and workers included) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits on EOF on its stdin
            try:
                jvm.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    if _wait_gone(procs, timeout_s):
        return
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(procs, 5.0)


def _running(pid: int) -> bool:
    """False once the process is gone or a zombie nobody has reaped yet."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: List[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True
