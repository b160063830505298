"""Process hygiene: peak memory of the run's process tree, read from /proc,
and a Spark shutdown that waits until the JVM and its Python workers end."""

from __future__ import annotations

import os
import threading
import time


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, state) of ``pid``, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            tail = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(tail[1]), tail[0]


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes (forked Python workers) counted 1/n in each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed proportional RSS of this process, the JVM and
    every Python worker below it, and keeps the peak."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(pss_bytes(p) for p in descendants(me) | {me})
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] != "Z"


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait until the JVM and
    every process it started have exited (killing stragglers)."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tree:
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
