"""Host-side helpers: process-tree RSS sampling, the host-drift probe, and
shutting the Spark JVM down so no process outlives the benchmark."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces: fields after the closing paren are fixed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark driver JVM
    and its Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants())
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1048576


# Rows in one probe job: about half a second at local[4] on a quiet host.
PROBE_ROWS = 300_000_000


def host_probe(spark, cores: int, reps: int = 3) -> float:
    """Median wall of a fixed pure-JVM job (range -> xxhash64 -> max) with
    no project code: it moves only with the host's speed, so it is the
    drift control read next to every workload's numbers."""
    import pyspark.sql.functions as F

    def one() -> float:
        t0 = time.perf_counter()
        spark.range(0, PROBE_ROWS, 1, 4 * cores).select(
            F.max(F.xxhash64("id"))
        ).collect()
        return time.perf_counter() - t0

    one()  # JIT warm rep, untimed
    return statistics.median(one() for _ in range(reps))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout: float) -> list[int]:
    """Wait up to ``timeout`` for ``pids`` to exit, reaping our children;
    returns the ones still running."""
    deadline = time.monotonic() + timeout
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass  # not our child: its own parent or init reaps it
        pids = [p for p in pids if _alive(p)]
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.1)


def shutdown_spark() -> None:
    """Stop the active session and the gateway JVM, then make sure every
    process this benchmark started (the JVM, its Python workers, and any
    helper such as a multiprocessing resource tracker) has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = descendants()
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = _reap(started, 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        left = _reap(left, 10)
