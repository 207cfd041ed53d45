"""Spans around the engine's layer calls, with Spark's own counts attached.

Spans are recorded by the benchmark's own code around calls into the
engine's public functions; nothing in the engine is edited. Calls the
engine makes internally (``catalog.load_table`` from a plan,
``parser.parse`` and the storage methods from ``ingest_dataset``) are
reached by swapping in timing wrappers while a traced pass runs and
restoring the originals afterwards, so untraced passes run the engine
untouched.

Spark-side counts come through py4j:

- a ``QueryExecutionListener`` hands over every completed query execution;
  its tracker phases give analysis/optimization/planning time and the
  node metrics of its final (AQE) plan give scan time, shuffle bytes,
  spill bytes and Python worker boot/init/compute time;
- the job-id counter brackets each span, and the status tracker turns
  that range into job, stage and task counts. Job ids rather than the
  job group are used for the count because streaming queries run their
  micro-batches under their own job group.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# node-metric name -> (per-layer key, scale to the reported unit)
_NODE_METRICS = {
    "scanTime": ("spark.scan_s", 1e-3),
    "shuffleBytesWritten": ("spark.shuffle_bytes", 1.0),
    "spillSize": ("spark.spill_bytes", 1.0),
    "pythonBootTime": ("functions.python_boot_s", 1e-3),
    "pythonInitTime": ("functions.python_init_s", 1e-3),
    "pythonTotalTime": ("functions.python_compute_s", 1e-3),
}
_PHASES = {
    "analysis": "spark.analysis_s",
    "optimization": "spark.optimization_s",
    "planning": "spark.planning_s",
}


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _walk_plan(plan, out: dict) -> None:
    """Sum the wanted node metrics over a physical plan: AQE's final plan,
    materialized query stages and subqueries included; reused exchanges are
    skipped so their metrics are not counted twice."""
    cls = plan.getClass().getSimpleName()
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return
    for kv in _scala_iter(plan.metrics()):
        hit = _NODE_METRICS.get(kv._1())
        if hit:
            key, scale = hit
            out[key] = out.get(key, 0.0) + kv._2().value() * scale
    if cls == "AdaptiveSparkPlanExec":
        _walk_plan(plan.executedPlan(), out)
        return
    if cls.endswith("QueryStageExec"):
        _walk_plan(plan.plan(), out)
        return
    for child in _scala_iter(plan.children()):
        _walk_plan(child, out)
    for sub in _scala_iter(plan.subqueries()):
        _walk_plan(sub, out)


class _QEListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, sink: list, lock: threading.Lock):
        self._sink = sink
        self._lock = lock

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        with self._lock:
            self._sink.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._lock:
            self._sink.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads Spark's query metrics for the spans of a traced pass."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        ensure_callback_server_started(self._sc._gateway)
        self._lock = threading.Lock()
        self._qes: list = []
        self._listener = _QEListener(self._qes, self._lock)
        self._registered = False

    def enable(self) -> None:
        if not self._registered:
            self._spark._jsparkSession.listenerManager().register(self._listener)
            self._registered = True

    def disable(self) -> None:
        if self._registered:
            self._flush_bus()
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._registered = False
            with self._lock:
                self._qes.clear()

    def next_job_id(self) -> int:
        nxt = self._jsc.dagScheduler().nextJobId()  # py4j hands back the int
        return nxt if isinstance(nxt, int) else nxt.get()

    def _flush_bus(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def drain(self) -> dict:
        """Counts of every query execution completed since the last drain."""
        self._flush_bus()
        with self._lock:
            qes = list(self._qes)
            self._qes.clear()
        out: dict = {}
        for qe in qes:
            for kv in _scala_iter(qe.tracker().phases()):
                key = _PHASES.get(kv._1())
                if key:
                    out[key] = out.get(key, 0.0) + kv._2().durationMs() / 1000.0
            _walk_plan(qe.executedPlan(), out)
        return out

    def job_counts(self, first: int, last: int) -> dict:
        """Jobs, stages and tasks of job ids first..last-1."""
        tracker = self._sc.statusTracker()
        stages = tasks = 0
        for j in range(first, last):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                stages += 1
                tasks += st.numTasks if st is not None else 0
        return {"spark.jobs": last - first, "spark.stages": stages, "spark.tasks": tasks}


class Tracer:
    """Span recorder. While stopped, ``span`` is a no-op context, so
    untraced passes pay nothing; only a tracer with a probe can start."""

    def __init__(self, probe: SparkProbe | None = None):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._probe = probe
        self._patches: list[tuple[object, str, object, bool]] = []

    def start(self) -> None:
        if self._probe is None:
            raise RuntimeError("tracing needs a SparkProbe")
        self._probe.enable()
        self.enabled = True

    def stop(self) -> None:
        """Stop recording and restore every wrapped attribute."""
        self.unpatch()
        self.enabled = False
        self._probe.disable()

    # -- spans ----------------------------------------------------------
    def begin_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        probe = self._probe
        # settle counts of work done before this span on the parent
        self._attach(probe.drain())
        job0 = probe.next_job_id()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, self._op, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._attach(probe.drain())
            jobs = probe.job_counts(job0, probe.next_job_id())
            # job counts are inclusive of children: keep them separate
            sp.counts.update({f"{k}.incl": v for k, v in jobs.items()})
            self._stack.pop()

    def _attach(self, counts: dict) -> None:
        if counts and self._stack:
            top = self._stack[-1].counts
            for k, v in counts.items():
                top[k] = top.get(k, 0.0) + v

    # -- wrappers around engine-internal calls ---------------------------
    def wrap(self, owner, attr: str, name, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until ``unpatch``.
        ``name`` is a span name or a function of the call's arguments;
        ``before(*args)`` returns state handed to ``after(state, span, result)``."""
        orig = getattr(owner, attr)
        had_own = attr in getattr(owner, "__dict__", {})
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(*args, **kwargs) if before else None
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as sp:
                result = orig(*args, **kwargs)
                if after is not None and sp is not None:
                    after(state, sp, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig, had_own))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig, had_own = self._patches.pop()
            if had_own or isinstance(owner, type(sys)):
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)  # instance override over a class method

    # -- reporting ----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.duration
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.duration - child_time.get(sp.id, 0.0)
        return out

    def totals(self) -> dict[str, dict]:
        """Per span name: count, total seconds and summed counts."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"n": 0, "s": 0.0, "counts": {}})
            agg["n"] += 1
            agg["s"] += sp.duration
            for k, v in sp.counts.items():
                agg["counts"][k] = agg["counts"].get(k, 0.0) + v
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                     "start": s.start, "end": s.end, "counts": s.counts}
                    for s in self.spans
                ],
                f,
            )
