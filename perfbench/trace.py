"""Layer tracing for the benchmark's traced run.

Spans are recorded from outside the program, around the calls into each
layer: the benchmark's own calls (graph load, operator entries, Catalyst
planning, the final action) open spans directly, and ``install`` wraps the
package functions the benchmark does not call itself:

- ``session.parse`` (parser) and ``Planner.plan`` (planner);
- ``materialize``, ``materialize_count``, ``materialize_agg``,
  ``materialize_lazy`` and ``static_loop_frame``, in ``materialize.py`` and
  at every loaded module that imported them by name (materialize);
- the py4j client's ``send_command`` (a round-trip counter; py4j's own
  releases of Java references are left out, since they follow Python's
  garbage collector and would make the count differ between runs).

``uninstall`` puts every original back. Spans live in memory until the run
ends. A span that owns jobs sets its own Spark job group while it is the
innermost such span, so each Spark job is attributed to exactly one span;
job, stage and task counts are read from the status tracker afterwards.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "cypher_for_apache_spark_spark"
MATERIALIZE_HELPERS = (
    "materialize",
    "materialize_count",
    "materialize_agg",
    "materialize_lazy",
    "static_loop_frame",
)
# the compile-time counter ticks in ms as compilations finish; a busy queue
# moves it within a few ms
JIT_PROBE_S = 0.02
# py4j's "memory / delete" command, sent when a Python proxy is collected
PY4J_RELEASE = "m\nd\n"
JIT_POLL_S = 0.1
JIT_MAX_WAIT_S = 5.0
# job groups of the benchmark's spans are named "<prefix>-<span id>"
GROUP_PREFIX = "perfbench"
# layers whose spans take the Spark jobs started while they are innermost
JOB_LAYERS = frozenset({"sources", "planner", "operators", "catalyst", "exec", "driver"})


@dataclass
class Span:
    id: int
    layer: str
    name: str
    query: str | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counted: bool = False
    children_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object, bool]] = []
        self.py4j_calls = 0
        self.counting = True  # off while the tracer or benchmark talks to the JVM
        self.query: str | None = None

    @contextmanager
    def paused(self):
        """Leave the benchmark's own py4j round trips out of the count."""
        was, self.counting = self.counting, False
        try:
            yield
        finally:
            self.counting = was

    # -- spans ---------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        with self.paused():
            sc = self.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

    def _innermost_group(self) -> str | None:
        for s in reversed(self._stack):
            if s.group is not None:
                return s.group
        return None

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, self.query,
                 parent.id if parent else None, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        if layer in JOB_LAYERS:
            s.group = f"{GROUP_PREFIX}-{s.id}"
            self._set_group(s.group)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
            if s.group is not None:
                self._set_group(self._innermost_group())

    # -- wrapping --------------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        own = attr in vars(owner)
        self._patches.append((owner, attr, vars(owner).get(attr) if own else None, own))
        setattr(owner, attr, new)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(layer, name):
                return fn(*a, **kw)

        traced.__perfbench_original__ = fn
        return traced

    def install(self) -> None:
        """Wrap the package's parser, planner and materialize helpers, and
        count py4j round trips. Call ``uninstall`` to restore them."""
        from cypher_for_apache_spark_spark import materialize as M, session as S
        from cypher_for_apache_spark_spark.plans.planner import Planner

        self._patch(S, "parse", self._wrap(S.parse, "parser", "parse"))
        self._patch(Planner, "plan", self._wrap(Planner.plan, "planner", "plan"))
        for helper in MATERIALIZE_HELPERS:
            original = getattr(M, helper)
            wrapped = self._wrap(original, "materialize", helper)
            for mod in list(sys.modules.values()):
                modname = getattr(mod, "__name__", "") or ""
                if not (modname == PACKAGE or modname.startswith(PACKAGE + ".")
                        or modname == "__spark_entry__"):
                    continue
                if vars(mod).get(helper) is original:
                    self._patch(mod, helper, wrapped)
        if self.spark is not None:
            client = self.spark.sparkContext._gateway._gateway_client
            self._patch(client, "send_command", self._count(client.send_command))

    def _count(self, send):
        tracer = self

        @functools.wraps(send)
        def counted(command, *a, **kw):
            if tracer.counting and not command.startswith(PY4J_RELEASE):
                tracer.py4j_calls += 1
            return send(command, *a, **kw)

        return counted

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original, own = self._patches.pop()
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)

    # -- counts ------------------------------------------------------------------
    def collect_job_counts(self) -> None:
        """Fill ``jobs``/``stages``/``tasks`` of every job-owning span not
        counted yet from the status tracker (stages skipped by shuffle reuse
        do not count). Call it before the SparkContext that ran them stops."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            if s.group is None or s.counted:
                continue
            s.counted = True
            for jid in st.getJobIdsForGroup(s.group) or []:
                s.jobs += 1
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    si = st.getStageInfo(sid)
                    if si is not None:
                        s.stages += 1
                        s.tasks += si.numTasks

    def layer_totals(self, spans=None) -> dict[str, dict[str, float]]:
        """Self time, span count and Spark work summed per layer."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans if spans is None else spans:
            t = out.setdefault(s.layer, {"self_s": 0.0, "calls": 0, "jobs": 0, "stages": 0, "tasks": 0})
            t["self_s"] += s.self_s
            t["calls"] += 1
            t["jobs"] += s.jobs
            t["stages"] += s.stages
            t["tasks"] += s.tasks
        return out

    def records(self) -> list[dict]:
        return [
            {"id": s.id, "layer": s.layer, "name": s.name, "query": s.query,
             "parent": s.parent, "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(s.self_s, 6), "jobs": s.jobs, "stages": s.stages,
             "tasks": s.tasks, **s.attrs}
            for s in self.spans
        ]


class JvmProbe:
    """GC time, JIT compile time and peak heap of the driver JVM, through
    its management beans."""

    def __init__(self, spark):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())

    def _jit_ms(self) -> int:
        return self.mf.getCompilationMXBean().getTotalCompilationTime()

    def _heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def start(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()
        self.gc0, self.jit0 = self._gc_ms(), self._jit_ms()

    def stop(self) -> dict[str, float]:
        peak = sum(p.getPeakUsage().getUsed() for p in self._heap_pools())
        return {
            "gc_ms": float(self._gc_ms() - self.gc0),
            "jit_ms": float(self._jit_ms() - self.jit0),
            "heap_peak_mb": peak / (1 << 20),
        }

    def jit_settle(self) -> float:
        """Wait until the JIT compiler is idle; returns seconds waited.

        Two reads of the compile-time counter ``JIT_PROBE_S`` apart that
        agree mean the queue is already idle, and it returns at once.
        Otherwise it polls every ``JIT_POLL_S`` until the counter stands
        still for one poll, for at most ``JIT_MAX_WAIT_S``."""
        t0 = time.perf_counter()
        prev = self._jit_ms()
        time.sleep(JIT_PROBE_S)
        cur = self._jit_ms()
        while cur != prev and time.perf_counter() - t0 < JIT_MAX_WAIT_S:
            time.sleep(JIT_POLL_S)
            prev, cur = cur, self._jit_ms()
        return time.perf_counter() - t0
