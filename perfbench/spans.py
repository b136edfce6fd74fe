"""Spans around the package's public entry points, and the Spark status
readers that turn them into per-layer numbers.

The tracer sees layers from outside only: it replaces public functions
and methods with wrappers, and each wrapper opens a span and sets a
Spark job group named after the span. After an operation it reads what
Spark recorded on its own — the job list of the status store, the
stage data of each job, the SQL executions' plan metrics — and
attributes each job to the span whose group ran it. Spans stay in
memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import html
import re
import threading
import time
from dataclasses import dataclass, field

from pyspark import SparkContext


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""
    own: float = 0.0  # seconds the tracer spent opening and closing it

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0


@dataclass
class OpTrace:
    """Everything recorded for one traced operation."""

    root: Span
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    sql: dict[str, float] = field(default_factory=dict)


# (plan node, metric) -> layer metric. A node of None matches any node;
# "spill size" is also reported by Window and aggregate nodes, hence Sort.
SQL_METRICS = {
    ("Scan", "size of files read"): "sql.scan.bytes_read",
    ("Scan", "scan time"): "sql.scan.time_ms",
    ("Exchange", "shuffle bytes written"): "sql.exchange.shuffle_write_bytes",
    ("Exchange", "fetch wait time"): "sql.exchange.fetch_wait_ms",
    ("Sort", "sort time"): "sql.sort.time_ms",
    ("Sort", "spill size"): "sql.sort.spill_bytes",
    ("BroadcastExchange", "time to collect"): "sql.broadcast.collect_ms",
    ("BroadcastExchange", "time to build"): "sql.broadcast.build_ms",
    (None, "data sent to Python workers"): "sql.python.bytes_to_worker",
    (None, "data returned from Python workers"): "sql.python.bytes_from_worker",
    (None, "time to run Python workers"): "sql.python.run_ms",
}

# Spark formats SQL metric totals for display: sizes in binary units,
# timings in ms/s/m/h, sums with thousands separators.
_SCALE = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_NUMBER = re.compile(r"\s*([\d.,]+)\s*([A-Za-z]*)")
_LABEL = re.compile(r'label="(.*?)" tooltip=')


def parse_metric(text: str) -> float:
    m = _NUMBER.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1)


def plan_metrics(dot: str) -> list[tuple[str, str, float]]:
    """(node name, metric name, total) for every node of a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``. A metric shown with a
    min/med/max breakdown puts its total on the following line."""
    out = []
    for label in _LABEL.findall(dot):
        parts = [html.unescape(p) for p in label.split("<br>") if p]
        if not parts or not parts[0].startswith("<b>"):
            continue
        node = parts[0][3:].removesuffix("</b>")
        i = 1
        while i < len(parts):
            item = parts[i]
            if item.endswith("(stageId: taskId))") and i + 1 < len(parts):
                out.append((node, item.split(" total (")[0], parse_metric(parts[i + 1])))
                i += 2
                continue
            name, _, value = item.rpartition(": ")
            if name:
                out.append((node, name, parse_metric(value)))
            i += 1
    return out


def _node_matches(want: str | None, node: str) -> bool:
    if want is None:
        return True
    if want == "Scan":
        return node.startswith("Scan ")
    return node == want


class Tracer:
    """Records spans for wrapped calls while installed.

    Spans opened on a thread with no open span (the streaming engine's
    ``foreachBatch`` callback thread) take the current operation's root
    span as parent, so every span of one operation shares its run id.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._root: Span | None = None
        self._last_job = -1
        self._last_exec = -1

    # ---------------------------------------------------------- spans
    def install(self, targets) -> None:
        """``targets``: (owner, attribute, namer) triples. ``namer``
        maps the call's (args, kwargs) to the span name."""
        for owner, attr, namer in targets:
            orig = owner.__dict__[attr]
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, namer))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, namer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(namer(args, kwargs)):
                return fn(*args, **kwargs)

        return wrapper

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sp = self._open(name)
        group = _job_group(SparkContext._active_spark_context, sp)
        group.__enter__()
        sp.own = time.perf_counter() - t
        try:
            yield sp
        finally:
            t = time.perf_counter()
            group.__exit__(None, None, None)
            self._close(sp)
            sp.own += time.perf_counter() - t

    def _open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            sp = Span(
                id=len(self.spans), name=name,
                parent=parent.id if parent else None,
                run_id=self.run_id, start=time.time(),
            )
            sp.group = f"pb-{self.run_id}-{sp.id}"
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()

    # ------------------------------------------------------ operations
    def begin_op(self, sc: SparkContext, name: str) -> None:
        self._mark_seen(sc)
        self._root = self._open(name)
        self._root_group = _job_group(sc, self._root)
        self._root_group.__enter__()

    def end_op(self, sc: SparkContext) -> OpTrace:
        root = self._root
        self._root_group.__exit__(None, None, None)
        self._close(root)
        self._root = None
        # the status store is fed asynchronously by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        op = OpTrace(root=root)
        ids = _subtree(self.spans, root.id)
        op.spans = [s for s in self.spans if s.id in ids]
        op.jobs = self._new_jobs(sc)
        op.sql = self._new_sql(sc)
        return op

    def _mark_seen(self, sc: SparkContext) -> None:
        # jobs of earlier work still queued on the listener bus would
        # otherwise be counted in this operation
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        if jobs.size():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())
        execs = _sql_store(sc).executionsList()
        if execs.size():
            self._last_exec = execs.apply(execs.size() - 1).executionId()

    def _new_jobs(self, sc: SparkContext) -> list[Job]:
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            if jd.jobId() <= self._last_job:
                break
            grp = jd.jobGroup()
            sub, done = jd.submissionTime(), jd.completionTime()
            job = Job(
                id=jd.jobId(),
                group=grp.get() if grp.isDefined() else None,
                start=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                end=done.get().getTime() / 1e3 if done.isDefined() else 0.0,
            )
            stage_ids = [int(s) for s in jd.stageIds().mkString(",").split(",") if s]
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                job.stages += 1
                job.executor_run_s += st.executorRunTime() / 1e3
                job.shuffle_write_bytes += st.shuffleWriteBytes()
                job.spill_bytes += st.diskBytesSpilled()
                job.output_bytes += st.outputBytes()
                job.output_records += st.outputRecords()
            out.append(job)
        return out

    def _new_sql(self, sc: SparkContext) -> dict[str, float]:
        store = _sql_store(sc)
        execs = store.executionsList()
        totals = {v: 0.0 for v in SQL_METRICS.values()}
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                break
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            for node, metric, value in plan_metrics(dot):
                for (want, name), layer in SQL_METRICS.items():
                    if name == metric and _node_matches(want, node):
                        totals[layer] += value
        return totals


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextlib.contextmanager
def _job_group(sc: SparkContext | None, sp: Span):
    """Run the block under the span's Spark job group on this thread,
    then restore the enclosing group. No-op before a context exists."""
    if sc is None:
        yield
        return
    saved = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
    sc.setJobGroup(sp.group, sp.name)
    try:
        yield
    finally:
        for k, v in zip(_GROUP_KEYS, saved):
            sc.setLocalProperty(k, v)


def _sql_store(sc: SparkContext):
    return sc._jvm.org.apache.spark.sql.SparkSession.active().sharedState().statusStore()


def _subtree(spans: list[Span], root_id: int) -> set[int]:
    ids = {root_id}
    for s in spans:  # spans are appended in open order: parents first
        if s.parent in ids:
            ids.add(s.id)
    return ids


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def layer_metrics(op: OpTrace) -> dict[str, float]:
    """Per-layer numbers of one traced operation.

    A span's jobs are those run under its own job group plus those of
    its descendants; jobs under no span's group (the streaming engine's
    own work between wrapped calls) count toward the operation only."""
    by_group = {s.group: s for s in op.spans}
    children: dict[int, list[Span]] = {}
    for s in op.spans:
        children.setdefault(s.parent, []).append(s)
    own: dict[int, list[Job]] = {}
    for j in op.jobs:
        sp = by_group.get(j.group, op.root)
        own.setdefault(sp.id, []).append(j)

    def jobs_of(sp: Span) -> list[Job]:
        out = list(own.get(sp.id, []))
        for c in children.get(sp.id, []):
            out += jobs_of(c)
        return out

    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for s in op.spans:
        if s is op.root:
            continue
        add(f"{s.name}.calls", 1)
        add(f"{s.name}.wall_s", s.dur)
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        add(f"{s.name}.self_s", s.dur - covered(kids, s.start, s.end))
        js = jobs_of(s)
        add(f"{s.name}.jobs", len(js))
        add(f"{s.name}.executor_run_s", sum(j.executor_run_s for j in js))
        add(f"{s.name}.shuffle_write_bytes", sum(j.shuffle_write_bytes for j in js))
        add(f"{s.name}.spill_bytes", sum(j.spill_bytes for j in js))
        add(f"{s.name}.output_bytes", sum(j.output_bytes for j in js))
        add(f"{s.name}.output_records", sum(j.output_records for j in js))
        if s.name.startswith("catalog.write."):
            add("catalog.write.calls", 1)
    m["spark.jobs"] = len(op.jobs)
    m["spark.stages"] = sum(j.stages for j in op.jobs)
    busy = covered([(j.start, j.end) for j in op.jobs], op.root.start, op.root.end)
    m["spark.driver_idle_s"] = op.root.dur - busy
    m.update(op.sql)
    return m
