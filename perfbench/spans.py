"""Spans around the benchmark's calls into the engine, and the Spark
counters attributed to each span.

A span records name, start, end, parent and the run id. With tracing on,
each span also sets a Spark job group, so the jobs, stages and tasks the
layer ran can be read back from the status tracker, and every frame the
span materialises (``Tracer.done``) contributes the SQL metrics of its
executed (adaptive) plan. With tracing off the tracer only times the
pass: no job groups, no extra materialisation.
"""

from __future__ import annotations

import itertools
import statistics
import time
from contextlib import contextmanager

# SQL metrics summed per span, keyed by the name the plan nodes use
PLAN_SUMS = (
    "shuffleBytesWritten",
    "spillSize",
    "pythonTotalTime",
    "pythonDataSent",
    "pythonDataReceived",
)


class Span:
    __slots__ = ("name", "sid", "parent", "start", "end", "group", "plan", "counts")

    def __init__(self, name, sid, parent, group):
        self.name, self.sid, self.parent, self.group = name, sid, parent, group
        self.start = self.end = 0.0
        self.plan: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    def as_dict(self, t0: float) -> dict:
        return {
            "name": self.name,
            "id": self.sid,
            "parent": self.parent,
            "start_s": self.start - t0,
            "end_s": self.end - t0,
            "plan": self.plan,
            "counts": self.counts,
        }


class Tracer:
    """Collects spans in memory. With ``enabled=False`` a span records
    only its wall clock: no job group, no counters, no materialisation."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(name, sid, parent.sid if parent else None, f"{self.run_id}:{sid}:{name}")
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._collect_jobs(sp)
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def done(self, df):
        """Materialise ``df`` inside the current span and add its plan's
        SQL metrics to the span. Untraced, ``df`` is returned lazy."""
        if not self.enabled:
            return df
        out = df.localCheckpoint(eager=True)
        sums = plan_metrics(df)
        sp = self._stack[-1]
        for k, v in sums.items():
            if k.startswith("max_"):
                sp.plan[k] = max(sp.plan.get(k, 0), v)
            else:
                sp.plan[k] = sp.plan.get(k, 0) + v
        return out

    # ------------------------------------------------------------ helpers

    def _collect_jobs(self, sp: Span) -> None:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        max_stage = None
        for jid in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
                recs = _task_records(self.sc, sid, si.currentAttemptId)
                if recs and (max_stage is None or sum(recs) > sum(max_stage)):
                    max_stage = recs
        sp.counts.update(jobs=jobs, stages=stages, tasks=tasks, tasks_failed=failed)
        if max_stage:
            med = statistics.median(max_stage)
            sp.counts["skew"] = max(max_stage) / med if med > 0 else float(len(max_stage))

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it that child spans cover
        (children of one span never overlap: the loop is closed)."""
        kids = [c for c in self.spans if c.parent == sp.sid]
        return (sp.end - sp.start) - sum(c.end - c.start for c in kids)

    def records(self) -> list[dict]:
        return [dict(s.as_dict(self.t0), self_s=self.self_time(s))
                for s in sorted(self.spans, key=lambda s: s.sid)]


def _java_coll(sc, obj):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(obj)


def _task_records(sc, stage_id: int, attempt: int) -> list[int]:
    """Rows each task of a stage read (scan input + shuffle read)."""
    store = sc._jsc.sc().statusStore()
    out = []
    for t in _java_coll(sc, store.taskList(stage_id, attempt, 100_000)):
        m = t.taskMetrics()
        if m.isEmpty():
            continue
        m = m.get()
        out.append(m.inputMetrics().recordsRead() + m.shuffleReadMetrics().recordsRead())
    return out


def _children(sc, node):
    """Child plan nodes, looking through adaptive plans and query stages."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    return list(_java_coll(sc, node.children()))


def _input_rows(sc, node) -> int:
    """Rows a node consumed: ``numOutputRows`` of the nearest node below it
    that counts rows (codegen wrappers, projections, sorts and exchanges
    do not). Python UDF nodes have one child."""
    kids = _children(sc, node)
    if not kids:
        return 0
    ms = _java_coll(sc, kids[0].metrics())
    if ms.containsKey("numOutputRows"):
        return ms["numOutputRows"].value()
    return _input_rows(sc, kids[0])


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQL metrics in PLAN_SUMS over the executed plan of ``df``
    (descending through adaptive query stages). Also: rows read by file
    scans (``scan_rows``), rows handed to Python UDF nodes
    (``python_rows_in``), rows out of explodes (``generate_rows``), and the
    largest row count any join, and any anti join, emitted. Timings are
    returned in seconds."""
    sc = df.sparkSession.sparkContext
    sums = {k: 0.0 for k in PLAN_SUMS}
    sums.update(scan_rows=0, python_rows_in=0, generate_rows=0, max_join_rows=0,
                max_anti_join_rows=0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        todo.extend(_children(sc, node))
        ms = _java_coll(sc, node.metrics())
        for k in ms.keySet():
            if k in PLAN_SUMS:
                m = ms[k]
                v = m.value()
                kind = m.metricType()
                sums[k] += v / 1e3 if kind == "timing" else v / 1e9 if kind == "nsTiming" else v
        name = node.nodeName()
        if ms.containsKey("pythonDataSent"):
            sums["python_rows_in"] += _input_rows(sc, node)
        if not ms.containsKey("numOutputRows"):
            continue
        rows = ms["numOutputRows"].value()
        if name.startswith("Scan "):
            sums["scan_rows"] += rows
        elif name == "Generate":
            sums["generate_rows"] += rows
        elif "Join" in name:
            sums["max_join_rows"] = max(sums["max_join_rows"], rows)
            if str(node.joinType()) == "LeftAnti":
                sums["max_anti_join_rows"] = max(sums["max_anti_join_rows"], rows)
    return sums
