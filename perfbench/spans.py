"""Spans around the engine's public layer calls, and host counters.

``Tracer`` records one span per call into a layer (name, start, end,
parent) and gives each span its own Spark job group, so the jobs,
stages and tasks a call ran are read back from
``SparkContext.statusTracker()``; this works with the UI disabled.
Jobs land in the innermost open span, so a span's counts are its own,
not its children's.  ``instrument`` wraps the engine's store, checkpoint
and watermark methods in spans; it changes no behaviour.

``mark`` reads the CPU time of the process tree (this interpreter, the
JVM it launched, and Python workers) and the host's CPU steal from
``/proc/stat``; ``peak_rss_mb`` reads the tree's peak RSS.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    parent: Span | None
    group: str
    end: float = 0.0
    children_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.seconds - self.children_s


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op."""

    sc: SparkContext
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _open: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), parent, f"perfbench-{next(self._ids)}")
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if parent is not None:
                parent.children_s += s.seconds
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty(_GROUP, None)

    def take(self) -> list[Span]:
        """Close out the spans recorded since the last call: wait for
        Spark's listener bus to drain, fill in each span's job, stage
        and task counts, and return them."""
        out, self.spans = self.spans, []
        if not out:
            return out
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in out:
            for jid in st.getJobIdsForGroup(s.group):
                job = st.getJobInfo(jid)
                if job is None:
                    raise RuntimeError(f"job {jid} of span {s.name} was evicted")
                s.jobs += 1
                for sid in job.stageIds:
                    stage = st.getStageInfo(sid)
                    # a stage whose shuffle output was reused runs no task
                    if stage is not None and stage.numCompletedTasks:
                        s.stages += 1
                        s.tasks += stage.numCompletedTasks
        return out


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's store, checkpoint and watermark methods in
    spans named after their layer."""
    from tinyerp_etl_spark.etl.checkpoint import PageCheckpoint
    from tinyerp_etl_spark.etl.table_store import TableStore
    from tinyerp_etl_spark.etl.watermark import WatermarkStore

    def wrap(cls, attr, name):
        fn = getattr(cls, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(cls, attr, traced)

    wrap(TableStore, "commit", "etl.table_store.commit")
    wrap(TableStore, "commit_append", "etl.table_store.commit")
    wrap(TableStore, "read_version", "etl.table_store.read")
    for attr in ("start", "advance", "finish"):
        wrap(PageCheckpoint, attr, f"etl.checkpoint.{attr}")
    wrap(WatermarkStore, "get", "etl.watermark.get")
    wrap(WatermarkStore, "commit", "etl.watermark.commit")


# ------------------------------------------------------------------ host

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while we looked
        rest = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    return out


def _tree(table: dict) -> list[int]:
    """This process and its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def steal_s() -> float:
    """CPU time the host has stolen from this machine, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def mark() -> tuple[float, float, float]:
    """(wall s, CPU s of this process tree, host steal s) at this instant."""
    table = _proc_table()
    cpu = sum(table[p][1] for p in _tree(table) if p in table)
    return time.perf_counter(), cpu / _TICK, steal_s()


def peak_rss_mb() -> float:
    """Sum over this process tree of each live process's peak RSS
    (``VmHWM``); an upper bound on the tree's peak."""
    total_kb = 0
    for pid in _tree(_proc_table()):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue  # exited, or a kernel thread
    return total_kb / 1024
