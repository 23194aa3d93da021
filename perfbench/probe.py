"""Process and Spark-state probes read from outside the engine.

* ``RssSampler``: peak resident memory of the driver JVM plus every
  process below it (the PySpark daemon and its Python workers), sampled
  from ``/proc``;
* ``host_steal_s``: cumulative hypervisor steal time of the host, so a
  run on a noisy host shows it;
* ``persisted`` / ``release``: what an operation left in the block
  manager, and freeing it before the next operation;
* ``codegen_compiles``: the JVM's whole-stage-codegen compile counter.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces: ppid follows the last ')'
                out[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parents = _parents()
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parents.items() if pp in frontier]
        tree += frontier
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of a process tree every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in process_tree(self.root))
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def host_steal_s() -> float:
    """Cumulative steal time of all cpus, in seconds (USER_HZ = 100)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / 100.0


def persisted(spark) -> dict[int, int]:
    """Persisted RDD id -> bytes held in memory and on disk."""
    jsc = spark.sparkContext._jsc
    ids = [int(k) for k in jsc.getPersistentRDDs().keySet().toArray()]
    held = {
        int(i.id()): int(i.memSize()) + int(i.diskSize())
        for i in jsc.sc().getRDDStorageInfo()
    }
    return {i: held.get(i, 0) for i in ids}


def release(spark, keep: set[int]) -> None:
    """Drop cached tables and every persisted RDD not in ``keep``."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) not in keep:
            jmap.get(k).unpersist(True)


def codegen_compiles(spark) -> int:
    cm = getattr(getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"),
                 "MODULE$")
    return int(cm.METRIC_COMPILATION_TIME().getCount())
