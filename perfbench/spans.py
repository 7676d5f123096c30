"""Spans and Spark job counts recorded from outside the program.

A span wraps one call into a layer's public function. Each span runs
under its own Spark job group (``setJobGroup``), so after it ends the
stages, tasks and failed tasks it caused are read back from
``sparkContext.statusTracker()`` (the session disables the UI, so there
is no REST endpoint to read instead). The status store is fed by the
asynchronous listener bus, so the bus is drained before every read; an
undrained read can miss the last task-end and stage-complete events.
Spans stay in memory until :func:`dump`.

The timed run's probes live here too: :class:`Clock` (wall time less
steal), :func:`tree_cpu_s` and :class:`RssSampler` (CPU time and memory
of the process tree).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

RSS_INTERVAL_S = 0.1  # RssSampler's sampling period


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Clock:
    """Elapsed wall time less the share the hypervisor stole.

    On a shared virtual machine a virtual CPU that has work is sometimes
    not run; ``/proc/stat`` counts that time as steal. Of the time the
    CPUs had work, the share ``steal / (busy + steal)`` was lost to
    other tenants, and the program's critical path lost the same share
    of its time, so :meth:`elapsed` scales the wall time down by it.
    """

    def __init__(self) -> None:
        self._t = time.perf_counter()
        self._ticks = _cpu_ticks()

    def elapsed(self) -> float:
        wall = time.perf_counter() - self._t
        (busy0, steal0), (busy1, steal1) = self._ticks, _cpu_ticks()
        wanted = busy1 - busy0 + steal1 - steal0
        return wall * (1 - (steal1 - steal0) / wanted) if wanted else wall


class Tracer:
    def __init__(self, spark, pass_id: str) -> None:
        self._sc = spark.sparkContext
        self.pass_id = pass_id
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str]] = []  # (name, job group)
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        """Time the block; count the Spark work it ran."""
        group = f"perfbench-{self.pass_id}-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append((name, group))
        self._sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent:
                self._sc.setJobGroup(parent[1], parent[0])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent and parent[0], "pass_id": self.pass_id,
                               **self._spark_counts(group)})

    def _spark_counts(self, group: str) -> dict:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stages = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in (job.stageIds if job else []):
                info = tracker.getStageInfo(stage_id)
                # stages skipped because their shuffle output was reused
                # ran no task: they are not work done by this span
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
                failed += info.numFailedTasks
        return {"stages": stages, "tasks": tasks, "failed_tasks": failed}

    def duration(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        return s["end"] - s["start"]


def dump(path: str, spans: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(spans, fh, indent=1)


def _tree(root: int) -> list[int]:
    """``root`` and the pids of all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant process."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its descendants, the reaped children of each included.
    Time the host steals from the virtual CPU is not charged to a process,
    so this moves much less than wall time on a shared host."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # utime stime cutime cstime: fields 14-17 of proc(5)
        total += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak memory in use by this process tree inside the ``with`` block:
    its resident memory, with the driver JVM's heap counted at its used
    size instead of its committed size. How far the garbage collector
    grows the committed heap varies from run to run; what the program
    holds does not."""

    def __init__(self, spark) -> None:
        self.peak = 0
        self._heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            heap = self._heap.getHeapMemoryUsage()
            in_use = (_tree_rss_bytes(os.getpid())
                      - heap.getCommitted() + heap.getUsed())
            self.peak = max(self.peak, in_use)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
