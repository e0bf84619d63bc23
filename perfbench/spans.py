"""Spans around the benchmark's calls into each layer, with Spark metrics.

A span is one timed call: name, start, end and the span that caused it.
When tracing is on, a leaf span runs its Spark jobs under a job group of its
own, and on exit reads the group's stages from the application status store
(it is filled even with the UI disabled): executor run and CPU time, shuffle
bytes, spill and task skew; it also records JVM GC time and the CPU time of
the Python workers, which the JVM's executor CPU time does not include.
Spans stay in memory and are written out as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_MB = 1024 * 1024


def jvm_gc_s(spark) -> float:
    """Cumulative GC time of the driver JVM (local mode: also the executor)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1e3


class Tracer:
    """Records spans; with `enabled` false it only keeps their wall times."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, *, spark_metrics: bool = False, **attrs):
        """Time the block as span `name`. With `spark_metrics` (and tracing
        on) its jobs run under their own job group and the span carries the
        group's status-store metrics."""
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        sc = self.spark.sparkContext
        group = f"perfbench-{sid}-{name}"
        collect = self.enabled and spark_metrics
        if collect:
            gc0, py0 = jvm_gc_s(self.spark), python_worker_cpu_s()
            sc.setJobGroup(group, name, False)
        self._stack.append(sid)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if collect:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(self._group_metrics(group))
                rec["gc_s"] = jvm_gc_s(self.spark) - gc0
                rec["py_cpu_s"] = python_worker_cpu_s() - py0
            self.spans.append(rec)

    def _group_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = tracker.getJobIdsForGroup(group)
        # the status listener runs behind the action that finished: wait
        # until it has seen every job of the group end
        deadline = time.time() + 10
        while time.time() < deadline:
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.01)
        stage_ids = sorted({s for i in infos if i is not None for s in i.stageIds})
        qs = sc._gateway.new_array(sc._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        m = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
        top_run = -1
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += sd.numTasks()
            m["run_s"] += sd.executorRunTime() / 1e3
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / _MB
            m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            # skew of the stage that dominates the span: slowest / median task
            if sd.executorRunTime() > top_run:
                top_run = sd.executorRunTime()
                dist = store.taskSummary(sid, sd.attemptId(), qs)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    m["task_skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
        return m

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parts: dict[str, float] = {}
        for _, comm, rss_mb, _ in process_tree(os.getpid()):
            parts[comm] = parts.get(comm, 0.0) + rss_mb
        total = sum(parts.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by Spark's Python workers: the processes
    under the JVM, which runs as a child of this one."""
    me = os.getpid()
    return sum(cpu for pid, comm, _, cpu in process_tree(me) if pid != me and comm != "java")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, including the reaped
    children of its members (Python workers that exited)."""
    return sum(cpu for _, _, _, cpu in process_tree(os.getpid()))


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / _MB


def process_tree(root: int) -> list[tuple[int, str, float, float]]:
    """(pid, program name, RSS in MB, CPU seconds) of `root` and its
    descendants, read from /proc."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[int, str, float, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process exited while we looked
            continue
        pid = int(entry)
        head, tail = stat.rsplit(")", 1)
        fields = tail.split()
        # fields from state (3rd of stat): ppid is [1], utime..cstime [11:15]
        children.setdefault(int(fields[1]), []).append(pid)
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        info[pid] = (pid, head.split("(", 1)[1], pages * _PAGE_MB, cpu)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out.append(info[pid])
        todo.extend(children.get(pid, []))
    return out
