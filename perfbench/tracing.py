"""Spans, the Spark status-store ledger and the RSS sampler.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the library, and per-call Spark figures are
read from the driver's status store (``AppStatusStore``), which Spark
keeps whether or not the web UI runs. Attribution is by id range: the
calls run one after another, so the jobs and stages created between a
call's start and end are exactly that call's work — including jobs the
library submits from helper threads, which a job group would miss.
"""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JJavaError


class Spans:
    """In-memory span log: (name, start, end, parent), written at the end."""

    def __init__(self):
        self.rows: list[dict] = []
        self._stack: list[str] = []

    def open(self, name: str) -> dict:
        row = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.rows.append(row)
        self._stack.append(name)
        return row

    def close(self, row: dict) -> float:
        row["end"] = time.time()
        self._stack.pop()
        return row["end"] - row["start"]


class Ledger:
    """Per-call Spark figures from the status store, or wall time alone
    when tracing is off. ``call(name, fn)`` runs ``fn`` under its own job
    group and returns (result, figures)."""

    def __init__(self, spark, spans: Spans | None):
        self.spans = spans
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    @property
    def traced(self) -> bool:
        return self.spans is not None

    def _last_ids(self) -> tuple[int, int]:
        head = self._store.jobsList(None).headOption()
        if not head.isDefined():
            return -1, -1
        job = head.get()
        stages = list(self._conv.asJava(job.stageIds()))
        return job.jobId(), max(stages, default=-1)

    def call(self, name: str, fn):
        if not self.traced:
            t0 = time.perf_counter()
            out = fn()
            return out, {"s": time.perf_counter() - t0}
        j0, s0 = self._last_ids()
        self._sc.setJobGroup(name, name)
        row = self.spans.open(name)
        try:
            out = fn()
        finally:
            wall = self.spans.close(row)
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        return out, self._figures(j0, s0, row["start"], wall)

    def _figures(self, j0: int, s0: int, start: float, wall: float) -> dict:
        j1, _ = self._last_ids()
        spans, stage_ids = [], set()
        for jid in range(j0 + 1, j1 + 1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # purged from the store (retainedJobs)
                continue
            st, ct = job.submissionTime(), job.completionTime()
            if st.isDefined() and ct.isDefined():
                spans.append((st.get().getTime() / 1e3, ct.get().getTime() / 1e3))
            stage_ids.update(s for s in self._conv.asJava(job.stageIds())
                             if s > s0)
        fig = {"s": wall, "task_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "rows": 0}
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # purged from the store
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            fig["task_s"] += sd.executorRunTime() / 1e3
            fig["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            fig["spill_mb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 2**20
            fig["rows"] += sd.outputRecords()
        fig["between_jobs_s"] = max(wall - _union_length(spans, start), 0.0)
        return fig


def _union_length(spans: list[tuple[float, float]], floor: float) -> float:
    total, end = 0.0, floor
    for a, b in sorted(spans):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


def _rss_bytes(pid: int) -> int:
    """Proportional resident size: pages shared between the forked Python
    workers count once across the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants (the JVM and
    the Python workers it forks), read from /proc."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return total / 2**20


class RssSampler:
    """Samples a process tree's RSS every ``period`` s; ``peak_mb``."""

    def __init__(self, root_pid: int, period: float = 0.25):
        self.root = root_pid
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
