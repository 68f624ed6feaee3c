"""In-memory spans around the benchmark's calls into each layer.

A span records (id, parent, request id, layer, name, start, end). Spans
live in a list until the run ends. Before each span the tracer points
the Spark job group at the span, so every job a layer launches can be
attributed to it afterwards through ``statusTracker()`` and the status
store (which works with ``spark.ui.enabled=false``).

Catalyst time is read, not re-run: a ``QueryExecutionListener``
receives every query Spark runs, and its ``QueryPlanningTracker``
gives the optimization and planning phases of that query. Each query
is credited to the span it ran in, by the wall-clock start of those
phases.

With tracing off, ``span`` and ``root`` are no-ops that cost one
attribute check; the untraced run measures the end-to-end metrics.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    rid: int
    layer: str
    name: str
    t0: float
    t1: float = 0.0
    e0_ms: float = 0.0  # wall clock, to match Spark's phase timestamps
    e1_ms: float = 0.0
    children: list[int] = field(default_factory=list)
    # the tracer's own time inside this span and outside its children:
    # pointing the job group at each child and back
    hook_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class StageCost:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_rid = 0
        self.hook_s = 0.0  # time spent inside the tracer's own hooks
        self.sc = None  # set once the SparkContext exists
        self.catalyst: list[tuple[int, int]] = []  # (phase start ms, ms)
        self._listener = None

    def attach(self, spark) -> None:
        """Point job groups at spans and listen for finished queries."""
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _CatalystListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)

    def detach(self, spark) -> None:
        if self._listener is not None:
            # the callback server's threads are daemons and end with
            # the process; shutting the server down here can hang on a
            # socket the gateway still shares
            spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setJobGroup("pb:none", "untraced")
        else:
            self.sc.setJobGroup(f"pb:{span.sid}", f"{span.layer}:{span.name}")

    @contextmanager
    def root(self, layer: str, name: str):
        """A request, query or batch: a new request id, no parent."""
        if not self.enabled:
            yield None
            return
        self._next_rid += 1
        with self._open(layer, name, self._next_rid, None) as s:
            yield s

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rid = parent.rid if parent else 0
        with self._open(layer, name, rid, parent) as s:
            yield s

    @contextmanager
    def _open(self, layer, name, rid, parent):
        h0 = time.perf_counter()
        s = Span(len(self.spans), parent.sid if parent else None, rid, layer, name, 0.0)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        self._stack.append(s)
        self._group(s)
        s.e0_ms = time.time() * 1e3
        s.t0 = time.perf_counter()
        self._hook(parent, s.t0 - h0)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.e1_ms = time.time() * 1e3
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self._hook(parent, time.perf_counter() - s.t1)

    def _hook(self, parent: Span | None, dt: float) -> None:
        self.hook_s += dt
        if parent is not None:
            parent.hook_s += dt

    # -- analysis (after the measured region) --------------------------

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the child spans' intervals."""
        ivs = sorted((self.spans[c].t0, self.spans[c].t1) for c in s.children)
        covered, end = 0.0, s.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return s.wall - covered

    def catalyst_s(self, s: Span) -> float:
        """Optimization and planning time of the queries that ran
        inside ``s``. Call after ``stage_costs``, which drains the
        listener bus."""
        lo, hi = math.floor(s.e0_ms), math.ceil(s.e1_ms)  # Spark keeps whole ms
        return sum(ms for start, ms in self.catalyst if lo <= start <= hi) / 1e3

    def descendants(self, s: Span):
        for c in s.children:
            yield self.spans[c]
            yield from self.descendants(self.spans[c])

    def stage_costs(self, spark) -> dict[int, tuple[int, list[StageCost]]]:
        """span id -> (jobs, per-stage costs) for every span's own job
        group. Waits for the listener bus so the status store holds the
        final stage metrics."""
        from py4j.protocol import Py4JJavaError

        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = sc.statusTracker()
        out: dict[int, tuple[int, list[StageCost]]] = {}
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(f"pb:{s.sid}")
            stages: list[StageCost] = []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for stage_id in info.stageIds if info else ():
                    try:
                        attempts = _seq(store.stageData(stage_id, False, no_status, False, no_quantiles))
                    except Py4JJavaError:  # a stage the store never recorded
                        continue
                    for attempt in attempts:
                        if attempt.status().toString() == "SKIPPED":
                            continue
                        stages.append(
                            StageCost(
                                tasks=attempt.numCompleteTasks(),
                                run_s=attempt.executorRunTime() / 1e3,
                                cpu_s=attempt.executorCpuTime() / 1e9,
                                input_bytes=attempt.inputBytes(),
                                shuffle_read_bytes=attempt.shuffleReadBytes(),
                                shuffle_write_bytes=attempt.shuffleWriteBytes(),
                                spill_bytes=attempt.memoryBytesSpilled() + attempt.diskBytesSpilled(),
                            )
                        )
            out[s.sid] = (len(jobs), stages)
        return out


class _CatalystListener:
    """``QueryExecutionListener`` called back from the JVM, on the
    listener bus thread, when a query ends."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java names)
        self._record(qe)

    def onFailure(self, func, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        h0 = time.perf_counter()
        starts, ms = [], 0
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("optimization", "planning"):
                starts.append(kv._2().startTimeMs())
                ms += kv._2().durationMs()
        if starts:
            self.tracer.catalyst.append((min(starts), ms))
        self.tracer.hook_s += time.perf_counter() - h0

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]
