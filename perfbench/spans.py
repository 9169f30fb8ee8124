"""Measurement helpers: layer spans read from Spark's status store, and the
peak resident memory of this process tree.

A span runs its body under a Spark job group named after the layer. On exit
it waits for the listener bus to drain, then sums the group's stage metrics
from the status store (``statusTracker().getJobIdsForGroup`` →
``statusStore().lastStageAttempt``), which works with the Spark UI off.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

LAYERS = ("concat_tf", "block", "compare", "score", "train", "cluster")
STAGE_FIELDS = ("run_ms", "cpu_ns", "shuffle_bytes", "spill_bytes", "tasks", "jobs")


class Tracer:
    """Accumulates per-layer wall time and stage metrics over spans."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        self._ids = itertools.count()
        self.cores = cores
        self.layers: dict[str, dict] = {}

    def _zero(self) -> dict:
        return {"s": 0.0, **{k: 0 for k in STAGE_FIELDS}}

    @contextmanager
    def span(self, layer: str):
        label = f"perfbench-{next(self._ids)}-{layer}"
        self._sc.setJobGroup(label, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._sc._jsc.clearJobGroup()
            acc = self.layers.setdefault(layer, self._zero())
            acc["s"] += dt
            for k, v in self._group_metrics(label).items():
                acc[k] += v

    def _group_metrics(self, label: str) -> dict:
        self._bus.waitUntilEmpty()
        out = {k: 0 for k in STAGE_FIELDS}
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(label):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                out["run_ms"] += sd.executorRunTime()
                out["cpu_ns"] += sd.executorCpuTime()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["tasks"] += sd.numCompleteTasks()
        return out

    def layer_metrics(self, layer: str, parts: tuple = ()) -> dict:
        """``<layer>.s/.cpu_s/.core_busy/.shuffle_mb/.spill_mb/.tasks``,
        summed over the spans named ``parts`` (default: ``layer``); all zero
        for a layer that ran no span."""
        acc = self._zero()
        for part in parts or (layer,):
            for k, v in self.layers.get(part, {}).items():
                acc[k] += v
        span = acc["s"]
        return {
            f"{layer}.s": (span, "s"),
            f"{layer}.cpu_s": (acc["cpu_ns"] / 1e9, "s"),
            f"{layer}.core_busy": (
                acc["run_ms"] / 1e3 / (span * self.cores) if span else 0.0, "ratio"),
            f"{layer}.shuffle_mb": (acc["shuffle_bytes"] / 2**20, "MB"),
            f"{layer}.spill_mb": (acc["spill_bytes"] / 2**20, "MB"),
            f"{layer}.tasks": (acc["tasks"], "count"),
        }


def storage_metrics(spark) -> dict:
    """Persisted RDDs and block-manager memory they hold right now."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mem = sum(info.memSize() for info in infos)
    return {
        "materialize.persisted_rdds": (jsc.getPersistentRDDs().size(), "count"),
        "materialize.cached_mb": (mem / 2**20, "MB"),
    }


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (Python driver, JVM, Python workers) from /proc until stopped."""

    def __init__(self, interval_s: float = 0.2):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self.peak_bytes = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    def _loop(self):
        while not self._stop.wait(self._interval):
            self._sample()

    def _sample(self):
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:  # the process ended meanwhile
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out
