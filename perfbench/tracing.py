"""Spans around calls into the engine, and per-call Spark statistics.

The tracer times each call from outside the program. A lazy call (one
that returns a DataFrame) is split into three parts:

- ``construct_s``: the Python call that returns the DataFrame;
- ``plan_s``: forcing ``queryExecution().executedPlan()``;
- ``exec_s``: the action that consumes it (collect on the same plan).

An eager call (one that runs its own jobs and returns plain values) is
timed whole as ``call_s``. Each traced call runs under its own Spark job
group; after the run, the jobs of each group are read from the
application status store (populated even with the UI off) to give jobs,
tasks, shuffle and spill bytes, busy share, task skew and driver gap.

With tracing off every method runs the call and nothing else, so the
untraced timed loop is the program's own cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    group: str | None = None
    values: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory while enabled; writes them at the end.

    ``run`` tags every span with the run it belongs to (the workload,
    seed and phase), so spans of one timed loop share an identifier.
    """

    def __init__(self, spark_ref, enabled: bool, cores: int):
        self._spark_ref = spark_ref  # callable: the live SparkSession
        self.enabled = enabled
        self.cores = cores
        self.run = ""
        #: call names traced as if tracing were off
        self.skip: set[str] = set()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = 0

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """A plain span (an op, a setup phase); children nest under it."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, run=self.run)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def _call(self, name: str):
        sc = self._spark_ref().sparkContext
        self._groups += 1
        sp = self._open(name)
        sp.group = f"perfbench-{os.getpid()}-{self._groups}"
        sp.values["epoch_ms"] = [time.time() * 1000.0, 0.0]
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sc._jsc.clearJobGroup()
            sp.values["epoch_ms"][1] = time.time() * 1000.0
            self._close(sp)

    # -- calls into the engine ------------------------------------------

    def _on(self, name: str) -> bool:
        return self.enabled and name not in self.skip

    def lazy(self, name: str, build, consume):
        """``consume(build())``; traced, split into construct/plan/exec."""
        if not self._on(name):
            return consume(build())
        with self._call(name) as sp:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            out = consume(df)
            t3 = time.perf_counter()
            sp.values.update(construct_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        return out

    def eager(self, name: str, fn):
        """``fn()``; traced as one ``call_s``."""
        if not self._on(name):
            return fn()
        with self._call(name) as sp:
            t0 = time.perf_counter()
            out = fn()
            sp.values["call_s"] = time.perf_counter() - t0
        return out

    def local(self, name: str, fn):
        """``fn()`` for a call that starts no Spark context of its own
        (``session.get_spark``): timed, no job group."""
        if not self._on(name):
            return fn()
        sp = self._open(name)
        try:
            out = fn()
        finally:
            self._close(sp)
        sp.values["call_s"] = sp.duration
        return out

    def count(self, name: str, value: float) -> None:
        """A counter recorded at a layer boundary (bytes written, edges
        per document, ...)."""
        if self._on(name):
            sp = self._open(name)
            self._close(sp)
            sp.values["count"] = value

    # -- status store ---------------------------------------------------

    def resolve(self) -> None:
        """Read the Spark statistics of every traced call whose job group
        is still unresolved. Must run before the SparkContext that ran
        them stops (its status store goes with it)."""
        pending = [s for s in self.spans if s.group and "jobs" not in s.values]
        if not pending:
            return
        spark = self._spark_ref()
        jsc = spark._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = spark.sparkContext.statusTracker()
        for sp in pending:
            sp.values.update(
                _group_stats(
                    store, tracker.getJobIdsForGroup(sp.group),
                    sp.values["epoch_ms"], self.cores,
                )
            )

    # -- reporting --------------------------------------------------------

    def _self_times(self) -> list[float]:
        """Per span: its duration minus the part of it that child spans
        cover (children never overlap: there is one client thread)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.duration
        return [sp.duration - c for sp, c in zip(self.spans, child)]

    def call_values(self, name: str) -> dict[str, float]:
        """Median of each recorded value over the calls named ``name``."""
        rows = [s.values for s in self.spans if s.name == name]
        keys = {k for r in rows for k in r if k != "epoch_ms"}
        return {
            k: float(statistics.median([r[k] for r in rows if k in r]))
            for k in keys
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": i, "name": sp.name, "run": sp.run, "parent": sp.parent,
                "start": sp.start, "end": sp.end, "self_s": self_s,
                "values": {k: v for k, v in sp.values.items() if k != "epoch_ms"},
            }
            for i, (sp, self_s) in enumerate(zip(self.spans, self._self_times()))
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _group_stats(store, job_ids, window_ms, cores: int) -> dict[str, float]:
    """Aggregate the status-store records of one call's jobs."""
    start_ms, end_ms = window_ms
    wall_s = max((end_ms - start_ms) / 1000.0, 1e-9)
    intervals = []
    tasks = shuffle = spill = run_ms = 0
    heaviest = (-1, None, None)  # (executorRunTime, stageId, attemptId)
    for jid in job_ids:
        jd = store.job(jid)
        sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if sub is not None:
            intervals.append((max(sub, start_ms), min(done or end_ms, end_ms)))
        sids = jd.stageIds()
        for i in range(sids.length()):
            try:
                sd = store.lastStageAttempt(sids.apply(i))
            except Py4JJavaError:  # a stage skipped before it was submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tasks += sd.numCompleteTasks()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.diskBytesSpilled()
            ert = sd.executorRunTime()
            run_ms += ert
            if ert > heaviest[0]:
                heaviest = (ert, sd.stageId(), sd.attemptId())
    skew = 1.0
    if heaviest[1] is not None:
        tl = store.taskList(heaviest[1], heaviest[2], 100000)
        durs = [
            float(tl.apply(k).duration().get())
            for k in range(tl.length())
            if tl.apply(k).duration().isDefined()
        ]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    in_jobs = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                in_jobs += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        in_jobs += cur_e - cur_s
    return {
        "jobs": float(len(job_ids)),
        "tasks": float(tasks),
        "shuffle_write_bytes": float(shuffle),
        "spill_bytes": float(spill),
        "busy_share": run_ms / 1000.0 / (wall_s * cores),
        "task_skew": skew,
        "driver_gap_s": max(wall_s - in_jobs / 1000.0, 0.0),
    }
