"""Process-tree and Spark-session counters read from outside the engine."""

from __future__ import annotations

import os
import signal
import threading
import time


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n — so forked Python workers, which share most
    of their pages with the worker daemon, are not counted many times."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pids(root: int) -> list[int]:
    """`root` and every descendant process, read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_pss_bytes(root: int) -> int:
    """PSS of `root` and every descendant process (driver, JVM, Python
    worker daemon and workers)."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue
    return total


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_ended(pids: list[int], grace_s: float = 20.0) -> None:
    """Wait until every process in `pids` has ended; kill those still
    running after `grace_s` and wait for them too."""
    deadline = time.monotonic() + grace_s
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while any(map(_alive, pids)):
        time.sleep(0.05)


class MemorySampler:
    """Peak PSS of this process tree, sampled on a daemon thread while
    the `with` block runs. One sample walks the JVM's page tables (about
    25 ms on a 4-core Xeon host); at 5 samples a second the sampler
    slowed 10-13 s calls by 0.5-2.8 s."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    AppStatusStore reflects all jobs that have finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def shuffle_write_bytes(spark) -> int:
    from dedup.spark_metrics import shuffle_totals

    drain_listener_bus(spark)
    return shuffle_totals(spark)["shuffle_write_bytes"]


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
