"""Spans around the benchmark's calls into the engine, plus host sampling.

A span records name, start, end, parent and iteration id.  Spans live in
memory and are written out once, when the run ends.  Each span also runs
its Spark actions under its own job group, so the jobs, tasks and failed
tasks it caused are read back from ``statusTracker`` when it closes.  With
tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark import SparkContext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.iteration: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time ``name``; yields the span record (``None`` when off)."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                rec.update(_group_counts(sc, f"perfbench-{sid}"))
                if self._stack:
                    parent = self._stack[-1]
                    sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def of_iteration(self, iteration: str) -> list[dict]:
        return [s for s in self.spans if s["iteration"] == iteration]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _group_counts(sc: SparkContext, group: str) -> dict:
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer (span name up to the first dot) not covered by
    child spans.  The benchmark's driver thread is sequential, so children
    never overlap and their durations simply add up."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + duration(s)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + duration(s) - child_time.get(s["id"], 0.0)
    return out


class RssSampler:
    """Peak summed RSS of one process and all its descendants (the driver
    JVM and the Python workers it forks), sampled from ``/proc``."""

    INTERVAL_S = 0.1
    #: the process tree is re-read every TREE_EVERY samples only: a scan of
    #: /proc costs far more than reading a few statm files
    TREE_EVERY = 10

    def __init__(self):
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self.peak_root_bytes = 0
        self.peak_children_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.wait(self.INTERVAL_S):
            root = self.root_pid
            if root is None:
                continue
            if n % self.TREE_EVERY == 0 or pids[:1] != [root]:
                pids = [root] + _descendants(root)
            n += 1
            rss = [self._rss(pid) for pid in pids]
            children = sum(rss[1:])
            self.peak_bytes = max(self.peak_bytes, rss[0] + children)
            self.peak_root_bytes = max(self.peak_root_bytes, rss[0])
            self.peak_children_bytes = max(self.peak_children_bytes, children)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except OSError:  # the process has exited
            return 0


def _descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out: list[int] = []
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def host_context(ticks_before: tuple[int, int]) -> dict:
    steal0, total0 = ticks_before
    steal1, total1 = cpu_ticks()
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 3),
        "loadavg": load,
    }
