"""Spans around public engine calls, joined to Spark's own job and stage
records.

A span is (id, layer, name, start, end, parent, run id), kept in memory
and written out once at the end of a run. Entering a span sets the Spark
job group to the span id; Spark carries that group to every job the call
starts, including adaptive-execution and broadcast jobs started on other
threads. Structured Streaming sets its own group on its micro-batch
thread, so a job whose group is no span's id belongs to the innermost span
open when it was submitted. After the run, the status store (which works
with ``spark.ui.enabled=false``) gives each job's interval and stages, and
each stage's run time, shuffle, spill and output figures. No Spark action
is added to read them.

Lazy DataFrames fuse across calls into one job, which would charge one
layer for another's work. ``materialize=True`` on a span persists and
counts the call's DataFrame results inside the span, so each layer pays
for its own work; ``Tracer.added_s`` is the wall time of those added
actions.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame

LAYER_FIELDS = (
    "wall_s",
    "driver_s",
    "jobs",
    "task_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "max_task_share",
    "bytes_written",
    "rows_out",
)


@dataclass
class Span:
    id: str
    layer: str
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    rows: int = 0


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    run_s: float
    shuffle_write: int
    spill: int
    output_bytes: int
    output_records: int
    wall_s: float


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def snapshot(spark) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Every job and executed stage the status store still holds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    jobs: dict[int, Job] = {}
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        start, end = _ms(j.submissionTime()), _ms(j.completionTime())
        if start is None or end is None:
            continue
        sids = j.stageIds()
        jobs[j.jobId()] = Job(
            j.jobId(),
            j.jobGroup().get() if j.jobGroup().isDefined() else None,
            start,
            end,
            [sids.apply(k) for k in range(sids.size())],
        )
    stages: dict[int, Stage] = {}
    sl = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    for i in range(sl.size()):
        s = sl.apply(i)
        first, done = _ms(s.firstTaskLaunchedTime()), _ms(s.completionTime())
        if first is None or done is None:
            continue  # skipped or still running
        stages[s.stageId()] = Stage(
            s.stageId(),
            s.executorRunTime() / 1000.0,
            s.shuffleWriteBytes(),
            s.diskBytesSpilled(),
            s.outputBytes(),
            s.outputRecords(),
            done - first,
        )
    return jobs, stages


def longest_task_s(spark, stage_id: int) -> float:
    """Longest task of a stage's latest attempt (task-duration quantile 1.0)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    q = sc._gateway.new_array(sc._gateway.jvm.double, 1)
    q[0] = 1.0
    attempt = store.lastStageAttempt(stage_id).attemptId()
    summary = store.taskSummary(stage_id, attempt, q)
    return summary.get().duration().apply(0) / 1000.0 if summary.isDefined() else 0.0


def stage_owner(jobs: dict[int, Job], stages: dict[int, Stage]) -> dict[int, int]:
    """Executed stage -> the first job that lists it. A shuffle stage reused
    by a later job is listed there again (skipped); it ran in the first."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid].stage_ids:
            if sid in stages:
                owner.setdefault(sid, jid)
    return owner


def assign_jobs(jobs: dict[int, Job], spans: list[Span]) -> dict[str, list[Job]]:
    """Span id -> its jobs: by job group, else the innermost span open when
    the job was submitted; jobs outside every span are dropped."""
    by_id = {sp.id: sp for sp in spans}
    out: dict[str, list[Job]] = {}
    for j in jobs.values():
        sp = by_id.get(j.group)
        if sp is None:
            open_ = [s for s in spans if s.start <= j.start <= s.end]
            sp = max(open_, key=lambda s: s.start, default=None)
        if sp is not None:
            out.setdefault(sp.id, []).append(j)
    return out


def totals(spark, spans: list[Span]) -> dict[str, float]:
    """Job count and stage totals over every job of ``spans``."""
    jobs, stages = snapshot(spark)
    owner = stage_owner(jobs, stages)
    mine = {j.id for js in assign_jobs(jobs, spans).values() for j in js}
    out = {"jobs": len(mine), "output_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for sid, jid in owner.items():
        if jid in mine:
            st = stages[sid]
            out["output_bytes"] += st.output_bytes
            out["shuffle_write_bytes"] += st.shuffle_write
            out["spill_bytes"] += st.spill
    return out


# --- interval arithmetic ----------------------------------------------------


def _union(ivs: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(ivs):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _length(ivs) -> float:
    return sum(b - a for a, b in ivs)


def _overlap(xs, ys) -> float:
    return sum(max(0.0, min(b, d) - max(a, c)) for a, b in xs for c, d in ys)


def _minus(iv: tuple[float, float], holes) -> list[tuple[float, float]]:
    out, cur = [], iv[0]
    for a, b in _union(holes):
        if a > cur:
            out.append((cur, min(a, iv[1])))
        cur = max(cur, b)
    if cur < iv[1]:
        out.append((cur, iv[1]))
    return out


# --- spans --------------------------------------------------------------------


class Tracer:
    """Records spans. ``active`` is off for untraced ops: wrapped calls then
    run bare and only spans opened with ``always=True`` are recorded."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list[DataFrame] = []
        self.added_s = 0.0  # wall time of the actions materialize adds

    @contextmanager
    def span(self, layer: str, name: str | None = None, always: bool = False):
        if not (self.active or always):
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"{self.run_id}:{len(self.spans)}:{layer}", layer, name or layer,
            0.0, 0.0, parent.id if parent else None, self.run_id,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.id, sp.name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def materialize(self, sp: Span, result) -> None:
        """Persist and count every DataFrame in ``result`` inside ``sp``."""
        if isinstance(result, DataFrame):
            self._persisted.append(result.persist())
            sp.rows += result.count()
        elif isinstance(result, (tuple, list)):
            for r in result:
                self.materialize(sp, r)
        elif hasattr(result, "dims") and hasattr(result, "fact"):  # StarSchema
            for r in [*result.dims.values(), result.fact]:
                self.materialize(sp, r)

    def _timed_materialize(self, sp: Span, result) -> None:
        t = time.perf_counter()
        self.materialize(sp, result)
        self.added_s += time.perf_counter() - t

    def release(self) -> None:
        while self._persisted:
            self._persisted.pop().unpersist()

    def wrap(self, fn, layer: str, materialize: bool = False, input_layer: str | None = None):
        """``fn`` inside a span of ``layer``. With ``input_layer``, the first
        argument (a lazy DataFrame) is materialized first in a span of that
        layer, so the work fused into it is charged there."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            if input_layer is not None:
                with self.span(input_layer) as sp:
                    self._timed_materialize(sp, args[0])
            with self.span(layer) as sp:
                result = fn(*args, **kwargs)
                if materialize:
                    self._timed_materialize(sp, result)
                return result

        return traced

    @contextmanager
    def patched(self, targets):
        """Wrap ``module.attr`` for each (module, attr, layer, materialize,
        input_layer) for the duration of the block. Callers that look the
        name up at call time (module globals, function-local imports,
        ``module.attr`` through an alias) see the span."""
        saved = []
        try:
            for module, attr, layer, materialize, input_layer in targets:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self.wrap(orig, layer, materialize, input_layer))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def layer_table(spark, spans: list[Span], split=()) -> dict[str, dict[str, float]]:
    """Per-layer totals over ``spans`` (see LAYER_FIELDS); ``op`` spans
    only take their own jobs out of the layers'. A layer in ``split`` also
    gets one row per span name, keyed ``layer.name``.

    A span's wall time excludes its child spans, so nested layers are not
    counted twice. ``driver_s`` is that wall time with no job of the span
    running; ``max_task_share`` is the largest longest-task / stage-wall
    ratio over the layer's stages.
    """
    jobs, stages = snapshot(spark)
    owner = stage_owner(jobs, stages)
    jobs_of = assign_jobs(jobs, spans)
    stages_of: dict[int, list[Stage]] = {}
    for sid, jid in owner.items():
        stages_of.setdefault(jid, []).append(stages[sid])
    children: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    table: dict[str, dict[str, float]] = {}
    for sp in spans:
        if sp.layer == "op":
            continue  # the op itself; work outside every layer span
        own = _minus((sp.start, sp.end), [(c.start, c.end) for c in children.get(sp.id, [])])
        mine = jobs_of.get(sp.id, [])
        busy = _union([(j.start, j.end) for j in mine])
        row = dict.fromkeys(LAYER_FIELDS, 0)
        row["wall_s"] = _length(own)
        row["driver_s"] = max(0.0, _length(own) - _overlap(own, busy))
        row["jobs"] = len(mine)
        row["rows_out"] = sp.rows
        for j in mine:
            for st in stages_of.get(j.id, []):
                row["task_s"] += st.run_s
                row["shuffle_write_bytes"] += st.shuffle_write
                row["spill_bytes"] += st.spill
                row["bytes_written"] += st.output_bytes
                row["rows_out"] += st.output_records
                if st.wall_s > 0:
                    share = longest_task_s(spark, st.id) / st.wall_s
                    row["max_task_share"] = max(row["max_task_share"], min(share, 1.0))
        keys = [sp.layer] + ([f"{sp.layer}.{sp.name}"] if sp.layer in split else [])
        for key in keys:
            acc = table.setdefault(key, dict.fromkeys(LAYER_FIELDS, 0))
            for f, v in row.items():
                acc[f] = max(acc[f], v) if f == "max_task_share" else acc[f] + v
    return table
