"""Spans, Spark stage-metric attribution and a process-tree RSS sampler.

Nothing here is imported by the engine. Spans are recorded from the
benchmark's own code, around the calls it makes into each engine module.
A phase span has two children: ``build`` (the operator call, before any
action the caller asks for) and ``action`` (the caller's action). With
tracing on, each child runs under its own Spark job group, so every job
Spark starts — including jobs an operator starts while it only builds a
plan — is attributed to the phase and to the child that started it. With
tracing off, no job group is set and no status-store call is made.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# per-phase counters read from Spark's status store
STAGE_FIELDS = ("jobs", "build_jobs", "stages", "tasks", "exec_run_s",
                "exec_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


class Tracer:
    """In-memory span recorder. ``enabled=False`` records only the wall
    times of phases and their build/action children."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "job": job, "start": time.perf_counter(), "end": None,
               "counters": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def _group(self, group: str):
        sc = self.spark.sparkContext
        if not self.enabled:
            yield
            return
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def phase(self, name: str, job: int):
        """Span one phase of job ``job``. Yields a :class:`Phase` whose
        ``build()`` and ``action()`` context managers mark the two parts."""
        ph = Phase(self, name, job)
        with self.span(name, job) as rec:
            ph.rec = rec
            yield ph
        if self.enabled:
            rec["counters"].update(stage_metrics(
                self.spark, [ph.group("build")], [ph.group("action")]))

    def children(self, rec: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"] and s["name"] == name)


class Phase:
    def __init__(self, tracer: Tracer, name: str, job: int):
        self.tracer = tracer
        self.name = name
        self.job = job
        self.rec: dict = {}

    def group(self, part: str) -> str:
        return f"perfbench.j{self.job}.{self.name}.{part}"

    @contextmanager
    def build(self):
        with self.tracer.span("build", self.job) as rec, \
                self.tracer._group(self.group("build")):
            yield rec

    @contextmanager
    def action(self):
        with self.tracer.span("action", self.job) as rec, \
                self.tracer._group(self.group("action")):
            yield rec

    @property
    def counters(self) -> dict:
        return self.rec["counters"]


def stage_metrics(spark, build_groups: list[str],
                  action_groups: list[str]) -> dict:
    """Sum Spark's per-stage task metrics over every job started under the
    given job groups. Waits for the listener bus first, because the status
    store is fed asynchronously. Stages a job skipped (shuffle reuse) and
    stages shared by several jobs count once."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    build_jobs = {j for g in build_groups for j in tracker.getJobIdsForGroup(g)}
    jobs = build_jobs | {j for g in action_groups
                         for j in tracker.getJobIdsForGroup(g)}
    stage_ids: set[int] = set()
    for j in jobs:
        sids = store.job(j).stageIds()
        stage_ids.update(sids.apply(i) for i in range(sids.size()))
    out = dict.fromkeys(STAGE_FIELDS, 0)
    out["jobs"] = len(jobs)
    out["build_jobs"] = len(build_jobs)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["exec_run_s"] += sd.executorRunTime() / 1e3
        out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


class TimedIterator:
    """Wraps an iterator and sums the time spent waiting in ``next()``."""

    def __init__(self, it):
        self._it = iter(it)
        self.wait_s = 0.0

    def __iter__(self):
        return self

    def __next__(self):
        t0 = time.perf_counter()
        try:
            return next(self._it)
        finally:
            self.wait_s += time.perf_counter() - t0


def _tree_rss_kb(root_pid: int) -> int:
    """Resident set size of ``root_pid`` and all its descendants, from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        # the comm field may hold spaces; ppid is 2nd field after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        rss[int(entry)] = pages
    tree = {root_pid}
    grew = True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree and p not in tree}
        tree |= kids
        grew = bool(kids)
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    return sum(rss.get(p, 0) for p in tree) * page_kb


class RssSampler:
    """Background thread sampling the RSS of this process and everything
    it started (the driver JVM and its Python workers). ``reset()`` starts
    a new peak; ``stop()`` joins the thread. With ``enabled=False`` no
    thread runs: each sample walks /proc under the GIL, which the
    untraced run keeps away from the driver's own Python thread."""

    def __init__(self, enabled: bool, interval_s: float = 0.1):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            kb = _tree_rss_kb(pid)
            with self._lock:
                self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        with self._lock:
            self.peak_kb = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=5)
