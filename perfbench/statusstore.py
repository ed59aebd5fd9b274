"""Per-layer numbers read from Spark's status store, from outside the program.

Each traced call runs under its own job group. After the call, the jobs of
that group (``statusStore().jobsList``) and each job's stages
(``lastStageAttempt``) give the call's job spans, executor CPU, GC, shuffle
and input rows. This works with ``spark.ui.enabled=false``: the status
store is fed by a listener that runs whether or not the UI does. Nothing here
touches the program's own code.

The status store keeps ``spark.ui.retainedJobs``/``retainedStages`` entries;
``run.py`` raises both so that no traced job is evicted before its readout.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

MB = 1024 * 1024
STAGE_SKIPPED = "SKIPPED"


@dataclass
class Span:
    """One traced call into a layer. ``build_end`` is when the call returned
    its DataFrame, before any action; ``parent`` is the workload operation
    the call belongs to and ``run`` the benchmark run."""

    name: str
    layer: str
    run: str
    parent: str | None
    group: str
    start: float
    build_end: float = 0.0
    end: float = 0.0


@dataclass
class Totals:
    wall_s: float = 0.0
    build_s: float = 0.0
    driver_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    input_rows: int = 0
    job_spans: list = field(default_factory=list, repr=False)

    def add(self, other: "Totals") -> None:
        for name in ("wall_s", "build_s", "driver_s", "exec_cpu_s", "gc_s", "jobs",
                     "tasks", "shuffle_mb", "spill_mb", "input_rows"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.job_spans += other.job_spans


def _opt(option):
    return option.get() if option.isDefined() else None


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` (pairs of seconds) inside ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """Jobs and stages of one SparkContext's status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.app_id = self._sc.applicationId

    def set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def jobs(self) -> list:
        """Every retained job, after the listener bus has caught up."""
        self._jsc.listenerBus().waitUntilEmpty()
        seq = self._jsc.statusStore().jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def add_jobs(self, totals: Totals, jobs, counted: set[int]) -> None:
        """Add ``jobs``' spans and stage metrics to ``totals``. A stage already
        in ``counted`` is skipped and every new one is added to it, so a stage
        that a later job reuses is counted once."""
        store = self._jsc.statusStore()
        for job in jobs:
            totals.jobs += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                totals.job_spans.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            for sid in (int(s) for s in str(job.stageIds().mkString(",")).split(",") if s):
                if sid in counted:
                    continue
                counted.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status().toString()) == STAGE_SKIPPED:
                    continue
                totals.tasks += st.numCompleteTasks()
                totals.exec_cpu_s += st.executorCpuTime() / 1e9
                totals.gc_s += st.jvmGcTime() / 1e3
                totals.shuffle_mb += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / MB
                totals.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                totals.input_rows += st.inputRecords()

    def cached_mb(self) -> float:
        """Memory plus disk held by cached and checkpointed relations."""
        self._jsc.listenerBus().waitUntilEmpty()
        rdds = self._jsc.statusStore().rddList(True)
        used = [rdds.apply(i) for i in range(rdds.size())]
        return sum(r.memoryUsed() + r.diskUsed() for r in used) / MB


class Tracer:
    """Records spans in memory and turns them into per-layer totals.

    ``bind`` must be called for every new SparkSession; ``flush`` reads out
    the spans of the bound session and must run before that session stops.
    The ``spark`` totals cover every job submitted since the tracer started,
    tagged or not, against the tracer's wall time, except the benchmark's own
    work run through ``own`` (input set-up, output checks, session restarts):
    its jobs and its time are left out. ``cost_s`` is the time spent tagging
    and reading out: all that tracing adds, since the status store is fed
    whether or not anything reads it.
    """

    def __init__(self, run: str):
        self.run = run
        self.t0 = time.time()
        self.spans: list[Span] = []
        self.span_totals: list[Totals] = []
        self.layers: dict[str, Totals] = {}
        self.whole = Totals()
        self._store: StatusStore | None = None
        self._pending: list[Span] = []
        self._seen_jobs: set[tuple[str, int]] = set()
        self.own_group = f"{run}:own"
        self.own_s = 0.0
        self.cost_s = 0.0

    def bind(self, spark) -> None:
        self._store = StatusStore(spark)
        self._span_stages: set[int] = set()
        self._whole_stages: set[int] = set()

    def call(self, layer: str, name: str, fn, action, parent: str | None = None):
        """Run ``action(fn())`` as one span and return the action's result."""
        group = f"{self.run}:{len(self.spans)}:{layer}:{name}"
        tag_start = time.time()
        self._store.set_group(group)
        span = Span(name, layer, self.run, parent, group, time.time())
        self.cost_s += span.start - tag_start
        self.spans.append(span)
        self._pending.append(span)
        try:
            built = fn()
            span.build_end = time.time()
            return action(built)
        finally:
            span.end = time.time()
            span.build_end = span.build_end or span.end
            self._store.set_group(None)
            self.cost_s += time.time() - span.end

    def own(self, fn):
        """Run the benchmark's own work and return its result."""
        t = time.time()
        self._store.set_group(self.own_group)
        try:
            return fn()
        finally:
            self._store.set_group(None)
            self.own_s += time.time() - t

    def flush(self) -> None:
        t = time.time()
        try:
            self._flush()
        finally:
            self.cost_s += time.time() - t

    def _flush(self) -> None:
        store = self._store
        jobs = store.jobs()
        by_group: dict[str | None, list] = {}
        for job in jobs:
            by_group.setdefault(_opt(job.jobGroup()), []).append(job)
        for span in self._pending:
            t = Totals(wall_s=span.end - span.start, build_s=span.build_end - span.start)
            store.add_jobs(t, by_group.get(span.group, []), self._span_stages)
            t.driver_s = t.wall_s - union_seconds(t.job_spans, span.start, span.end)
            self.span_totals.append(t)
            self.layers.setdefault(span.layer, Totals()).add(t)
            self.whole.build_s += t.build_s
        self._pending = []
        fresh = [
            j for j in jobs
            if (store.app_id, j.jobId()) not in self._seen_jobs
            and _opt(j.jobGroup()) != self.own_group
            and j.submissionTime().isDefined()
            and j.submissionTime().get().getTime() / 1e3 >= self.t0
        ]
        self._seen_jobs.update((store.app_id, j.jobId()) for j in fresh)
        store.add_jobs(self.whole, fresh, self._whole_stages)

    def finish(self) -> tuple[dict[str, Totals], Totals]:
        self.flush()
        end = time.time()
        self.whole.wall_s = end - self.t0 - self.own_s
        self.whole.driver_s = self.whole.wall_s - union_seconds(self.whole.job_spans, self.t0, end)
        return self.layers, self.whole

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "run": s.run, "parent": s.parent,
             "start": s.start, "build_end": s.build_end, "end": s.end}
            for s in self.spans
        ]
