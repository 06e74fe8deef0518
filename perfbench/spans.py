"""Spans and Spark status reads for the traced run.

A span is (id, name, start, end, parent, op). Spans live in memory and
are written out with the run's detail. They wrap the calls the
benchmark makes into the engine's layers, plus three Spark-side
sources read at the same boundaries:

- a ``QueryExecutionListener`` (via py4j) that reports each SQL
  execution's ``QueryPlanningTracker`` phases, turned into
  ``planner.plan`` spans placed at their own start and end times;
- the codegen compile counter (``CodegenMetrics``), read at op
  boundaries;
- the app status store, read after a pass for the jobs of each op's
  job group (stages, tasks, executor run and CPU time, shuffle, spill).

Nothing here is active in an untraced pass: a traced pass installs the
listener and the wrappers, and ``Tracer.uninstall`` removes them.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op_root: int | None = None
        self._op_id: str | None = None
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._qe_listener = None
        self._spark = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add_span(self, name, start, end, parent=None, op=None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "op": op if op is not None else self._op_id,
                    **attrs,
                }
            )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else self._op_root
        sid = self.add_span(name, time.perf_counter(), None, parent, **attrs)
        st.append(sid)
        try:
            yield self.spans[sid]
        finally:
            st.pop()
            self.spans[sid]["end"] = time.perf_counter()

    @contextmanager
    def op(self, op_id: str, name: str, **attrs):
        """The root span of one op; spans opened on other threads while it
        runs (streaming callbacks) attach to it."""
        self._op_id = op_id
        with self.span(name, op=op_id, root=True, **attrs) as sp:
            self._op_root = sp["id"]
            sp["compiles0"] = self.compiles()
            try:
                yield sp
            finally:
                sp["compiles1"] = self.compiles()
                self._op_root = None
        self._op_id = None

    # -- patching layer entry points -----------------------------------------
    def patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper_factory(orig))

    def wrap_everywhere(self, func, span_name: str):
        """Wrap ``func`` under every name the engine modules bind it to
        (``from .catalog import load_table`` makes a module-level copy)."""

        def factory(orig):
            def wrapped(*a, **k):
                with self.span(span_name):
                    return orig(*a, **k)

            return wrapped

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("deloton_solo_spark") or mod is None:
                continue
            if getattr(mod, func.__name__, None) is func:
                self.patch(mod, func.__name__, factory)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
        if self._qe_listener is not None:
            self._spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self._qe_listener = None
        self._spark = None

    # -- Spark-side sources ----------------------------------------------------
    def install_spark(self, spark) -> None:
        """Register the planning-phase listener."""
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._compile_counter = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._qe_listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(self._qe_listener)

    def compiles(self) -> int:
        if self._spark is None:
            return 0
        return int(self._compile_counter.getCount())


class _PlanListener:
    """py4j implementation of ``QueryExecutionListener``. Events arrive
    on Spark's listener-bus thread; each one carries the finished
    ``QueryExecution`` whose tracker holds the analysis, optimization
    and planning phase start and end times (epoch ms)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._record(func_name, qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (Java API)
        self._record(func_name, qe)

    def _record(self, func_name, qe) -> None:
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            ph = kv._2()
            phases[kv._1()] = (ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
        self.events.append({"func": func_name, "phases": phases})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def job_counters(spark, group: str) -> dict:
    """Executor-side counters of every job in one job group, read from
    the app status store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        try:
            stage_ids = store.job(jid).stageIds()
        except Exception:  # evicted from the store
            continue
        it = stage_ids.iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store
                continue
            tasks = s.numCompleteTasks() + s.numFailedTasks()
            if tasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += tasks
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def attach_plan_spans(tracer: Tracer, wall_offset: float) -> None:
    """Turn planning-phase events into ``planner.plan`` spans, each under
    the innermost span that was open at its start. ``wall_offset`` maps
    epoch seconds onto the ``perf_counter`` clock the spans use."""
    if tracer._qe_listener is None:
        return
    events, tracer._qe_listener.events = tracer._qe_listener.events, []
    spans = [s for s in tracer.spans if s["end"] is not None]
    for ev in events:
        ph = ev["phases"]
        plan_phases = [v for k, v in ph.items() if k in ("optimization", "planning")]
        if not plan_phases:
            continue
        start = min(v[0] for v in plan_phases) - wall_offset
        end = max(v[1] for v in plan_phases) - wall_offset
        holder = None
        for s in spans:
            if s["start"] <= start <= s["end"] and s["name"] != "planner.plan":
                if holder is None or s["start"] >= holder["start"]:
                    holder = s
        if holder is None:
            continue  # planning outside any op (setup, checks)
        tracer.add_span(
            "planner.plan",
            start,
            min(end, holder["end"]),
            parent=holder["id"],
            op=holder["op"],
            func=ev["func"],
        )


def self_times(spans: list[dict]) -> dict[int, float]:
    """A span's duration minus the part its direct children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
