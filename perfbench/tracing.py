"""Per-layer tracing for the benchmark's traced run (`--trace 1`).

Everything here is measured from outside the engine: module functions
are wrapped from the benchmark's side, and the JVM is read through the
public management beans, Spark's status store, the SQL query-execution
listener and the streaming query listener. Spans are kept in memory and
written out once, when the run ends.

`install()` must run before `registry.load_all()` imports the query
modules, because they bind `load_table` and `drain_to_table` by name at
import time.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_MB = float(1 << 20)

#: Wrapped engine functions: (module, function) -> (call-count counter,
#: seconds counter or None, hit counter or None).
_WRAPPED = {
    ("catalog", "load_table"): ("catalog.load_calls", "catalog.load_s", None),
    ("sources", "artifact_is_current"): (
        "sources.artifact_checks", None, "sources.artifact_hits"),
    ("sources", "mark_artifact"): ("sources.artifact_builds", None, None),
    ("streaming", "drain_to_table"): ("streaming.drains", "streaming.drain_s", None),
}
#: Streaming micro-batch phases (progress `durationMs` keys) -> counters.
_STREAM_PHASES = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
}
#: Catalyst phases (QueryPlanningTracker) -> counters.
_PLAN_PHASES = {
    "analysis": "plan.analysis_ms",
    "optimization": "plan.optimization_ms",
    "planning": "plan.planning_ms",
}


class Tracer:
    """Spans plus per-layer counters for one benchmark run.

    Counters accumulate from `reset()` on, so the run can exclude its
    set-up; spans cover the whole run. Listener callbacks arrive on py4j
    threads, hence the lock around counter updates."""

    def __init__(self, workload: str):
        self.workload = workload
        self.pass_id: str | None = None
        self.query: str | None = None
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()
        self._lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        #: metric -> query name -> one value per execution
        self.per_query: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self._next_job = 0

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += value

    def reset(self) -> None:
        with self._lock:
            self.counts.clear()
            self.per_query.clear()

    @contextmanager
    def span(self, name: str):
        """Record a span named `name`, parented to the innermost open one
        and tagged with the current (workload, pass, query) id."""
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "id": [self.workload, self.pass_id, self.query],
        })
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.perf_counter() - self._t0

    # -- engine modules ---------------------------------------------------

    def install(self) -> None:
        """Wrap the engine's layer-boundary functions in place."""
        import importlib

        for (mod_name, attr), (count, secs, hits) in _WRAPPED.items():
            module = importlib.import_module(f"iris_pyspark_spark.{mod_name}")
            setattr(module, attr, self._wrap(
                getattr(module, attr), f"{mod_name}.{attr}", count, secs, hits))

    def _wrap(self, fn, span_name, count, secs, hits):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            with self.span(span_name):
                out = fn(*args, **kwargs)
            self.add(count)
            if secs:
                self.add(secs, time.perf_counter() - t0)
            if hits and out:
                self.add(hits)
            return out

        return traced

    # -- JVM side ----------------------------------------------------------

    def attach(self, spark) -> None:
        """Register the JVM-side listeners on a started session."""
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        beans = sc._jvm.java.lang.management.ManagementFactory
        self._jit = beans.getCompilationMXBean()
        self._gcs = list(beans.getGarbageCollectorMXBeans())
        ensure_callback_server_started(sc._gateway)
        spark._jsparkSession.listenerManager().register(_PlanListener(self))
        spark.streams.addListener(_ProgressListener(self))
        for _ in self._new_jobs():  # jobs before attach belong to nobody
            pass

    def jvm_clock(self) -> tuple[float, float]:
        """(cumulative JIT compile ms, cumulative GC seconds) of the JVM."""
        gc_ms = sum(b.getCollectionTime() for b in self._gcs)
        return float(self._jit.getTotalCompilationTime()), gc_ms / 1000.0

    def after_query(self, name: str) -> None:
        """Drain the listener bus, then book every job the query started
        (job ids are sequential, and queries run one at a time)."""
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        cpu = 0.0
        for job in self._new_jobs():
            self.add("exec.jobs")
            ids = job.stageIds()
            for sid in {ids.apply(i) for i in range(ids.size())}:
                cpu += self._book_stage(self._store.lastStageAttempt(sid))
        with self._lock:
            self.per_query["exec.cpu_s"][name].append(cpu)
        self.add("trace.self_s", time.perf_counter() - t0)

    def _new_jobs(self):
        """Yield the status-store record of each job started since the
        last call."""
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return
            self._next_job += 1
            yield job

    def _book_stage(self, st) -> float:
        """Add one stage's task metrics; return its executor CPU seconds."""
        cpu = st.executorCpuTime() / 1e9
        self.add("exec.s", st.executorRunTime() / 1000.0)
        self.add("exec.cpu_s", cpu)
        self.add("exec.gc_s", st.jvmGcTime() / 1000.0)
        self.add("exec.tasks", st.numCompleteTasks())
        self.add("exec.failed_tasks", st.numFailedTasks())
        self.add("exec.shuffle_write_mb", st.shuffleWriteBytes() / _MB)
        self.add("exec.input_mb", st.inputBytes() / _MB)
        return cpu

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "spans": self.spans, **extra}, f)


class _PlanListener:
    """QueryExecutionListener: books Catalyst phase times of every query
    execution, including the eager actions inside `fn()`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        self._book(qe)

    def onFailure(self, func_name, qe, exception):
        self._book(qe)

    def _book(self, qe):
        t0 = time.perf_counter()
        phases = qe.tracker().phases()
        for phase, key in _PLAN_PHASES.items():
            found = phases.get(phase)
            if found.isDefined():
                self.tracer.add(key, found.get().durationMs())
        self.tracer.add("trace.self_s", time.perf_counter() - t0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    """Books micro-batch counts and phase durations of streaming drains."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        durations = event.progress.durationMs
        self.tracer.add("streaming.batches")
        for phase, key in _STREAM_PHASES.items():
            self.tracer.add(key, durations.get(phase, 0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
