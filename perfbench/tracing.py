"""Tracing for the traced run (``--trace 1``).

Three parts, all driven from the benchmark's side of the program's
public API:

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  sets a Spark job group per span, so every Spark job is attributed to
  the innermost span that submitted it.
* ``instrument`` wraps the calls ``PipelineEngine`` makes into the
  ``config``, ``sources``, ``operators``, ``sinks`` and ``state``
  modules (through their registries and module attributes) and returns a
  ``PipelineEngine`` subclass that spans the engine's extract stage.
* ``SparkProbe`` reads Spark's own records after a pass: the app status
  store (jobs, stages, task summaries), the planning-phase tracker of
  every query execution the program ran (through a
  ``QueryExecutionListener`` served by the Py4J callback server), JVM GC
  time and block-manager memory.

None of this runs in the plain run that measures the end-to-end metrics.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Iterator

LAYERS = ("config", "sources", "operators", "engine", "sinks", "state", "queries")


class Tracer:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self.run_id = 0
        self.retries = 0  # engine attempts beyond the first, since the last pass

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(f"pb{idx}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._sc.setJobGroup(f"pb{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
            else:
                self._sc._jsc.clearJobGroup()

    def self_times(self, run_id: int) -> dict[str, float]:
        """Seconds of each span name in ``run_id``, minus the time its
        child spans cover."""
        out: dict[str, float] = {}
        child: dict[int, float] = {}
        for rec in self.spans:
            if rec["run"] == run_id and rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        for i, rec in enumerate(self.spans):
            if rec["run"] == run_id:
                d = rec["end"] - rec["start"] - child.get(i, 0.0)
                out[rec["name"]] = out.get(rec["name"], 0.0) + d
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for i, rec in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **rec}) + "\n")


def layer_of(span_name: str) -> str:
    head = span_name.split(".", 1)[0]
    return head if head in LAYERS else "other"


# ----------------------------------------------------------------------
# Instrumentation of the pipeline engine's calls


@contextmanager
def instrument(tracer: Tracer) -> Iterator[type]:
    """Patch the engine's collaborators to open spans; yield a traced
    ``PipelineEngine`` subclass. Everything is restored on exit."""
    from etl_ml_pipeline_spark import engine as eng
    from etl_ml_pipeline_spark.registry import SINKS, SOURCES, TRANSFORMS

    cache: dict[tuple[str, type], type] = {}

    def wrap_source(key: str, cls: type) -> type:
        class Traced(cls):
            def extract(self):
                with tracer.span(f"sources.{key}"):
                    return super().extract()
        return Traced

    def wrap_transform(key: str, cls: type) -> type:
        class Traced(cls):
            def __call__(self, df):
                with tracer.span(f"operators.{key}"):
                    return super().__call__(df)
        return Traced

    def wrap_sink(key: str, cls: type) -> type:
        class Traced(cls):
            def load(self, df):
                with tracer.span(f"sinks.{key}"):
                    return super().load(df)
        return Traced

    def traced_get(registry, wrap, kind):
        original = registry.get

        def get(key: str) -> type:
            cls = original(key)
            k = (kind + key, cls)
            if k not in cache:
                cache[k] = wrap(key, cls)
            return cache[k]
        return get

    class TracedState(eng.StateManager):
        def set(self, pipeline, cursor):
            with tracer.span("state.set"):
                return super().set(pipeline, cursor)

    original_load_config = eng.load_config

    def load_config(path, inline=None):
        with tracer.span("config.load_config"):
            return original_load_config(path, inline)

    class TracedEngine(eng.PipelineEngine):
        """Spans the extract stage (source plus cursor aggregate) and
        counts the attempts ``_with_retry`` makes beyond the first."""

        def _extract(self, full_refresh=False):
            self._extracts = getattr(self, "_extracts", 0) + 1
            tracer.retries += self._extracts > 1
            with tracer.span("engine.extract_stage"):
                return super()._extract(full_refresh=full_refresh)

        def _load(self, df):
            self._loads = getattr(self, "_loads", 0) + 1
            tracer.retries += self._loads > 1
            return super()._load(df=df)

    original_state = eng.StateManager
    SOURCES.get = traced_get(SOURCES, wrap_source, "s:")
    TRANSFORMS.get = traced_get(TRANSFORMS, wrap_transform, "t:")
    SINKS.get = traced_get(SINKS, wrap_sink, "k:")
    eng.load_config = load_config
    eng.StateManager = TracedState
    try:
        yield TracedEngine
    finally:
        for registry in (SOURCES, TRANSFORMS, SINKS):
            del registry.get  # drop the instance attribute; the method shows again
        eng.load_config = original_load_config
        eng.StateManager = original_state


# ----------------------------------------------------------------------
# Spark's own records


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


_PHASES = ("analysis", "optimization", "planning")


class _PhaseListener:
    """A JVM ``QueryExecutionListener`` implemented in Python: sums the
    planning-phase times of every query execution that completes,
    including the write commands sinks run, each execution once."""

    def __init__(self) -> None:
        self.ms = dict.fromkeys(_PHASES, 0.0)
        self._seen: set[int] = set()

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - JVM interface
        if int(qe.id()) in self._seen:  # a DataFrame acted on twice reuses its execution
            return
        self._seen.add(int(qe.id()))
        phases = qe.tracker().phases()
        for phase in _PHASES:
            opt = phases.get(phase)
            if opt.isDefined():
                self.ms[phase] += float(opt.get().durationMs())

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - JVM interface
        self.onSuccess(func_name, qe, 0)

    def take(self) -> dict[str, float]:
        out, self.ms = self.ms, dict.fromkeys(_PHASES, 0.0)
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads Spark's status store and JVM counters between passes."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._seen_jobs: set[int] = set()
        self._gc_ms = self.gc_ms()
        ensure_callback_server_started(self._gateway)
        self._listeners = spark._jsparkSession.listenerManager()
        self._phases = _PhaseListener()
        self._listeners.register(self._phases)

    def close(self) -> None:
        self._listeners.unregister(self._phases)

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def storage_bytes(self) -> int:
        status = self._jsc.getExecutorMemoryStatus().values().toList()
        return sum(int(t._1()) - int(t._2()) for t in _seq(status))

    def new_jobs(self) -> list[tuple[int | None, list[Any]]]:
        """(span index, stage records) for every job finished since the
        last call."""
        self._jsc.listenerBus().waitUntilEmpty()  # the store is filled by an async listener
        store = self._jsc.statusStore()
        out = []
        for job in _seq(store.jobsList(None)):
            jid = int(job.jobId())
            if jid in self._seen_jobs or str(job.status()) == "RUNNING":
                continue
            self._seen_jobs.add(jid)
            group = job.jobGroup()
            span = None
            if group.isDefined() and str(group.get()).startswith("pb"):
                span = int(str(group.get())[2:])
            stages = []
            empty = self._jvm.java.util.ArrayList()
            no_q = self._gateway.new_array(self._jvm.double, 0)
            for sid in _seq(job.stageIds()):
                attempts = _seq(store.stageData(int(sid), False, empty, False, no_q))
                stages.extend(a for a in attempts if str(a.status()) == "COMPLETE")
            out.append((span, stages))
        return out

    def task_skew(self, stage) -> float:
        """Max over median task run time of one stage (1.0 for one task)."""
        if int(stage.numTasks()) < 2:
            return 1.0
        q = self._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._jsc.statusStore().taskSummary(int(stage.stageId()), int(stage.attemptId()), q)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, top = float(run.apply(0)), float(run.apply(1))
        return top / med if med > 0 else 1.0

    def pass_metrics(self, tracer: Tracer) -> dict[str, float]:
        """Job, stage and JVM counters for one pass; spans give the layer."""
        m = dict.fromkeys(
            ("operators.eager_jobs", "sinks.jobs", "queries.eager_jobs", "exec.stages",
             "exec.tasks", "exec.task_s", "exec.task_skew", "exec.single_task_stages",
             "exec.shuffle_bytes", "exec.spill_bytes", "exec.peak_mem_bytes", "scan_rows"),
            0.0,
        )
        for span, stages in self.new_jobs():
            name = tracer.spans[span]["name"] if span is not None else "other"
            if name.startswith("operators."):
                m["operators.eager_jobs"] += 1
            elif name.startswith("sinks."):
                m["sinks.jobs"] += 1
            elif name == "queries.build":
                m["queries.eager_jobs"] += 1
            for st in stages:
                m["exec.stages"] += 1
                n = int(st.numTasks())
                m["exec.tasks"] += n
                m["exec.single_task_stages"] += n == 1
                m["exec.task_s"] += int(st.executorRunTime()) / 1000.0
                m["exec.shuffle_bytes"] += int(st.shuffleWriteBytes())
                m["exec.spill_bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                m["exec.peak_mem_bytes"] = max(m["exec.peak_mem_bytes"], int(st.peakExecutionMemory()))
                m["scan_rows"] += int(st.inputRecords())
                m["exec.task_skew"] = max(m["exec.task_skew"], self.task_skew(st))
        for k, v in self._phases.take().items():  # new_jobs drained the listener bus
            m[f"catalyst.{k}_ms"] = v
        gc = self.gc_ms()
        m["jvm.gc_s"] = (gc - self._gc_ms) / 1000.0
        self._gc_ms = gc
        m["session.storage_bytes"] = float(self.storage_bytes())
        return m
