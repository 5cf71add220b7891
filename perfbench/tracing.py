"""Measurement primitives of the benchmark: process-tree CPU and RSS read
from ``/proc``, in-memory spans around calls into the engine's layers, and
Spark counters read from the status store for each span's job group.

Nothing here touches the engine: spans wrap its public functions from the
outside (see ``patched``), and Spark counters come from the
``AppStatusStore`` that every SparkContext keeps, UI or not.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def tree_pids(root: int | None = None) -> list:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for task in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _stat_fields(pid: int) -> list:
    with open(f"/proc/{pid}/stat", "rb") as f:
        s = f.read()
    return s[s.rindex(b")") + 2:].split()


def tree_cpu_s() -> float:
    """User + system CPU seconds of the process tree, reaped children
    included (a worker that exits moves its time into its parent's
    ``cutime``/``cstime``, so the sum stays continuous)."""
    ticks = 0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tree_rss_mb() -> tuple:
    """(sum of the resident set sizes of the process tree in MB,
    {command name: [MB, processes]})."""
    total, parts = 0.0, {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * _PAGE / 2 ** 20
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        total += mb
        part = parts.setdefault(name, [0.0, 0])
        part[0] += mb
        part[1] += 1
    return total, parts


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_mb`` and what the
    tree held at that moment."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb, self.peak_parts = 0.0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        mb, parts = tree_rss_mb()
        if mb > self.peak_mb:
            self.peak_mb, self.peak_parts = mb, parts

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

SPARK_KEYS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
              "input_mb", "task_skew_max")


class StatusStore:
    """Spark counters per job group, read from the context's
    ``AppStatusStore`` after the listener bus has drained.  A stage is
    counted once, under the first group that lists it as completed, so a
    shuffle reused by a later job is not counted twice."""

    def __init__(self, sc):
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._q = q
        self._seen: set = set()

    def drain(self):
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def group_counters(self, group: str) -> dict:
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["task_skew_max"] = 1.0
        job_ids = self._sc.statusTracker().getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        for jid in job_ids:
            stage_ids = self._store.job(int(jid)).stageIds()
            for k in range(stage_ids.size()):
                sid = int(stage_ids.apply(k))
                attempts = self._store.stageData(
                    sid, False, self._empty_list, False, self._no_q)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    key = (sid, sd.attemptId())
                    if key in self._seen or \
                            sd.status().toString() != "COMPLETE":
                        continue
                    self._seen.add(key)
                    self._add_stage(out, sid, sd)
        return out

    def _add_stage(self, out: dict, sid: int, sd):
        out["stages"] += 1
        n = sd.numCompleteTasks()
        out["tasks"] += n
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2 ** 20
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2 ** 20
        out["spill_mb"] += sd.diskBytesSpilled() / 2 ** 20
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_mb"] += sd.inputBytes() / 2 ** 20
        if n >= 2:
            summ = self._store.taskSummary(sid, sd.attemptId(), self._q)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = float(run.apply(0)), float(run.apply(1))
                out["task_skew_max"] = max(out["task_skew_max"],
                                           mx / max(med, 1.0))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Span:
    __slots__ = ("id", "parent", "job", "name", "t0", "t1", "counts",
                 "group", "spark")

    def __init__(self, sid, parent, job, name, group):
        self.id, self.parent, self.job, self.name = sid, parent, job, name
        self.group = group
        self.t0 = time.perf_counter()
        self.t1 = None
        self.counts: dict = {}
        self.spark: dict = {}

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "job": self.job,
                "name": self.name, "t0": self.t0, "t1": self.t1,
                "counts": self.counts, "spark": self.spark}


class Tracer:
    """In-memory spans.  Every span runs under its own Spark job group, so
    the status store can attribute Spark jobs to the innermost span that
    submitted them.  ``job`` opens a root span; ``span`` nests under the
    current one; ``count`` attaches a number to the current span."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._stack: list = []
        self.spans: list = []
        self._after: list = []

    @contextlib.contextmanager
    def job(self, name: str, job_id: int):
        assert not self._stack, "jobs do not nest"
        self._after = []          # probes of a failed job never run
        with self._open(name, job_id) as s:
            yield s

    @contextlib.contextmanager
    def span(self, name: str):
        if not self._stack:       # outside a traced job: no span
            yield None
            return
        with self._open(name, self._stack[-1].job) as s:
            yield s

    @contextlib.contextmanager
    def _open(self, name, job_id):
        sid = next(self._ids)
        parent = self._stack[-1].id if self._stack else None
        s = Span(sid, parent, job_id, name, f"perfbench-span-{sid}")
        self._stack.append(s)
        self._sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(self._stack[-1].group,
                                     self._stack[-1].name)
            else:
                self._sc._jsc.clearJobGroup()
            self.spans.append(s)

    def count(self, key: str, value: float):
        if self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0.0) + float(value)

    def after_job(self, fn):
        """Run ``fn()`` after the current job ends (outside its timed
        span): read-back probes that would otherwise inflate a layer."""
        if self._stack:
            self._after.append(fn)

    def run_after_job(self):
        todo, self._after = self._after, []
        for fn in todo:
            fn()

    def job_spans(self, job_id: int) -> list:
        return [s for s in self.spans if s.job == job_id]


def self_times(spans: list) -> dict:
    """span id -> duration minus the time its direct children cover
    (children of one span run one after another on the driver thread)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return {s.id: s.dur - child.get(s.id, 0.0) for s in spans}


def check_parents(spans: list) -> list:
    """Spans whose parent is missing from their own job (must be none)."""
    by_job: dict = {}
    for s in spans:
        by_job.setdefault(s.job, set()).add(s.id)
    return [s.as_dict() for s in spans
            if s.parent is not None and s.parent not in by_job[s.job]]


# ---------------------------------------------------------------------------
# patching the engine's public functions for a traced job
# ---------------------------------------------------------------------------

def materialize(df, tracer: Tracer, held: list):
    """Persist + one action, so the layer's work lands inside its span.
    Returns the (persisted) DataFrame; ``held`` collects what to release."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        df = df.persist()
        held.append(df)
    tracer.count("rows_out", df.count())
    return df


@contextlib.contextmanager
def patched(targets: list):
    """Temporarily replace module attributes: ``targets`` is a list of
    ``(module, attribute, replacement)``.  Restored on exit, also on error."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, fn in targets:
            setattr(m, a, fn)
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)
