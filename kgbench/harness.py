"""Measurement plumbing shared by the workloads: spans with Spark job
groups, a reader for the JVM status stores, and a process-tree RSS
sampler. Nothing here imports the package under test."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# peak RSS of the driver's process tree (driver, JVM, Python workers)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # the command name may hold spaces or parentheses: split after the last ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed VmRSS of this process and all its descendants
    every `interval` seconds on a background thread; `peak_mb` is the
    largest sum seen.

    A process is counted from its second sample on. The JVM starts its
    children through vfork, and until the exec such a child reports the
    whole JVM's RSS; counting it would add a phantom JVM to the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        pids = set(descendants(me))
        total = _rss_kb(me) + sum(_rss_kb(p) for p in pids & self._seen)
        self._seen = pids
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Keeps spans in memory. While a span is open, the Spark jobs this
    thread submits carry the span's name as their job group, so the status
    store can attribute every job to exactly one span. A disabled tracer
    records nothing and sets no job group."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent.name if parent else None)
        self._stack.append(s)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                self.sc.setJobGroup(parent.name, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def get(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def children(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.parent == name]

    def subtree(self, name: str) -> set[str]:
        """`name` and the names of all spans below it."""
        names, todo = {name}, [name]
        while todo:
            kids = [c.name for c in self.children(todo.pop())]
            names.update(kids)
            todo += kids
        return names

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


# ---------------------------------------------------------------------------
# JVM status stores (AppStatusStore + SQLAppStatusStore)
# ---------------------------------------------------------------------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    completed: float
    stage_ids: list[int]


@dataclass
class Stage:
    run_s: float
    cpu_s: float
    shuffle_write_bytes: int
    output_bytes: int
    num_tasks: int
    input_bytes: int


@dataclass
class Execution:
    job_ids: set[int]
    rows_by_node: list[tuple[int, str, int]]  # (node id, node name, output rows)


class StatusSnapshot:
    """One read of the JVM status stores. Read it right after the traced
    run, before `spark.ui.retainedJobs/Stages` can evict anything."""

    def __init__(self, spark):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        self.jobs: list[Job] = []
        for j in _iter(store.jobsList(None)):
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is None or done is None:
                continue
            self.jobs.append(
                Job(
                    int(j.jobId()),
                    _opt(j.jobGroup()),
                    sub.getTime() / 1000.0,
                    done.getTime() / 1000.0,
                    [int(s) for s in _iter(j.stageIds())],
                )
            )
        # Spark 4.1 signature: stageList(statuses, details, withSummaries,
        # quantiles, taskStatus); the quantiles array must be non-null
        quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.stages: dict[int, Stage] = {}
        for s in _iter(store.stageList(None, False, False, quantiles, None)):
            prev = self.stages.get(int(s.stageId()))
            cur = Stage(
                s.executorRunTime() / 1000.0,
                s.executorCpuTime() / 1e9,
                int(s.shuffleWriteBytes()),
                int(s.outputBytes()),
                int(s.numTasks()),
                int(s.inputBytes()),
            )
            if prev is not None:  # retried attempt: add its work
                cur = Stage(*(a + b for a, b in zip(vars(prev).values(), vars(cur).values())))
            self.stages[int(s.stageId())] = cur

        sql = spark._jsparkSession.sharedState().statusStore()
        self.executions: list[Execution] = []
        for e in _iter(sql.executionsList()):
            eid = e.executionId()
            job_ids = {int(k) for k in _iter(e.jobs().keys())}
            values = sql.executionMetrics(eid)
            rows = []
            for node in _iter(sql.planGraph(eid).allNodes()):
                for m in _iter(node.metrics()):
                    if m.name() == "number of output rows":
                        v = _opt(values.get(m.accumulatorId()))
                        if v is not None:
                            rows.append((int(node.id()), node.name(), int(str(v).replace(",", ""))))
            self.executions.append(Execution(job_ids, rows))

    def jobs_in(self, group: str) -> list[Job]:
        return [j for j in self.jobs if j.group == group]

    def executions_in(self, group: str) -> list[Execution]:
        ids = {j.id for j in self.jobs_in(group)}
        return [e for e in self.executions if e.job_ids & ids]

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def span_metrics(tracer: Tracer, snap: StatusSnapshot, name: str, with_self: bool = False) -> dict:
    """The per-span metrics; zeros for a span that did not run."""
    s = tracer.get(name)
    out = {
        f"{name}.wall_s": 0.0,
        f"{name}.jobs": 0,
        f"{name}.executor_run_s": 0.0,
        f"{name}.executor_cpu_s": 0.0,
        f"{name}.shuffle_write_bytes": 0,
        f"{name}.driver_only_s": 0.0,
    }
    if with_self:
        out[f"{name}.self_s"] = 0.0
    if s is None:
        return out
    # a parent's jobs include those submitted under its child spans
    groups = tracer.subtree(name)
    jobs = [j for j in snap.jobs if j.group in groups]
    stages = snap.stages_of(jobs)
    out[f"{name}.wall_s"] = s.wall
    out[f"{name}.jobs"] = len(jobs)
    out[f"{name}.executor_run_s"] = sum(st.run_s for st in stages)
    out[f"{name}.executor_cpu_s"] = sum(st.cpu_s for st in stages)
    out[f"{name}.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages)
    out[f"{name}.driver_only_s"] = s.wall - covered([(j.submitted, j.completed) for j in jobs], s.start, s.end)
    if with_self:
        out[f"{name}.self_s"] = s.wall - sum(c.wall for c in tracer.children(name))
    return out


def node_rows(executions: list[Execution], name_part: str) -> list[int]:
    """Output-row counts of every plan node whose name contains `name_part`."""
    return [rows for e in executions for _, n, rows in e.rows_by_node if name_part in n]


def root_rows(execution: Execution) -> int:
    """Output rows of the top-most plan node that reports them."""
    return min(execution.rows_by_node)[2] if execution.rows_by_node else 0
