"""Layer tracing from outside the program.

:class:`Tracer` replaces the public functions of each layer module (and
every alias another ``recon_spark`` module bound to them with
``from X import f``) with a :class:`_Traced` proxy that records one span
per call: name, layer, start, end, parent span and run id, plus the Spark
jobs started inside the call. Spans stay in memory until :meth:`write`.
While the tracer is inactive the proxies only forward the call.

:class:`SparkStats` reads the executor side of a step from Spark's status
store through the session (no listener, no program change).
"""

from __future__ import annotations

import importlib
import inspect
import json
import sys
import time
from dataclasses import dataclass, field

#: layer -> module under ``recon_spark``; the layer name is the module path
LAYERS = (
    "sources.fixtures",
    "sources.tpch",
    "operators.cleaning",
    "operators.partitioning",
    "registry",
    "engines.match_planid",
    "engines.age_taxcode",
    "engines.roth_taxable",
    "engines.ira_rollover",
    "plans.corrections",
    "operators.merge",
    "plans.analytics",
    "operators.asof",
    "operators.ranges",
    "operators.funnel",
    "operators.sketches",
    "streaming.sessions",
    "plans.corpus",
    "operators.unicode_norm",
    "operators.lines",
    "operators.spans",
    "operators.text",
    "operators.dedup",
    "operators.lm",
    "operators.sampling",
    "operators.packing",
    "operators.bpe",
)

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_mb",
    "driver_only_s",
    "task_wait_s",
)


class SparkStats:
    """Job counter and per-step executor metrics from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def job_count(self) -> int:
        """Jobs submitted so far in this SparkContext (exact: the counter is
        bumped synchronously in the submitting thread)."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def step(self, first_job: int, last_job: int, wall_s: float) -> dict[str, float]:
        """Executor counters for jobs ``[first_job, last_job)`` of a step
        whose wall time was ``wall_s``."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = float(last_job - first_job)
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in range(first_job, last_job):
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 — evicted or never registered
                continue
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                intervals.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — skipped stage never attempted
                continue
            if st.numTasks() == 0 or not st.submissionTime().isDefined():
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += (
                st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
            ) / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            out["input_mb"] += st.inputBytes() / 2**20
            if st.firstTaskLaunchedTime().isDefined():
                out["task_wait_s"] += max(
                    st.firstTaskLaunchedTime().get().getTime()
                    - st.submissionTime().get().getTime(),
                    0,
                ) / 1e3
        out["driver_only_s"] = max(wall_s - _union_length(intervals), 0.0)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    phase: str
    start: float
    end: float = 0.0
    jobs: int = 0
    boundary: bool = True  # outermost span of its layer on the call stack
    children: list[tuple[float, float]] = field(default_factory=list)


class _Traced:
    """Callable proxy for one traced function. Pickles as the original
    function, so a traced function shipped to Python workers (UDF bodies,
    ``mapInPandas``) arrives there untraced."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", "fn")
        self.__qualname__ = getattr(fn, "__qualname__", self.__name__)
        self.__doc__ = fn.__doc__
        self.__module__ = fn.__module__
        self._layer = layer
        self._tracer = tracer

    def __reduce__(self):
        return (_original, (self.__module__, self.__qualname__))

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.active:
            return self.__wrapped__(*args, **kwargs)
        span = tracer.open(f"{self._layer}.{self.__name__}", self._layer)
        try:
            return self.__wrapped__(*args, **kwargs)
        finally:
            tracer.close(span)


def _original(module: str, qualname: str):
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "__wrapped__", obj)


class Tracer:
    """Spans at layer boundaries, kept in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.active = False
        self.phase = ""
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stats: SparkStats | None = None
        self._installed: list[tuple[object, str, object]] = []

    # -- installation ------------------------------------------------------
    def install(self, stats: SparkStats) -> None:
        """Proxy every layer's public functions and their aliases."""
        self._stats = stats
        originals: dict[int, _Traced] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"recon_spark.{layer}")
            for name, val in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(val)
                    and val.__module__ == mod.__name__
                ):
                    proxy = _Traced(val, layer, self)
                    originals[id(val)] = proxy
                    self._set(mod, name, proxy)
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith("recon_spark")]:
            for name, val in list(vars(mod).items()):
                proxy = originals.get(id(val))
                if proxy is not None and proxy.__wrapped__ is val:
                    self._set(mod, name, proxy)
        # the registry's public surface: every QUERIES[name] build
        from recon_spark import registry

        for name, fn in list(registry.QUERIES.items()):
            proxy = _Traced(fn, "registry", self)
            proxy.__name__ = f"QUERIES[{name}]"
            self._installed.append((registry.QUERIES, name, fn))
            registry.QUERIES[name] = proxy

    def _set(self, mod, name: str, proxy: _Traced) -> None:
        self._installed.append((mod, name, getattr(mod, name)))
        setattr(mod, name, proxy)

    def uninstall(self) -> None:
        for target, name, orig in reversed(self._installed):
            if isinstance(target, dict):
                target[name] = orig
            else:
                setattr(target, name, orig)
        self._installed.clear()

    # -- spans -------------------------------------------------------------
    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        boundary = not any(s.layer == layer for s in self._stack)
        span = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.sid if parent else None,
            run_id=self.run_id,
            phase=self.phase,
            start=time.perf_counter(),
            boundary=boundary,
        )
        if self._stats is not None:
            span.jobs = -self._stats.job_count()
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if self._stats is not None:
            span.jobs += self._stats.job_count()
        self._stack.pop()
        if self._stack:
            self._stack[-1].children.append((span.start, span.end))

    # -- read-out ----------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.driver_s/.self_s/.jobs/.calls`` for every layer.

        ``driver_s`` sums the layer's outermost spans only, so a layer
        function calling another function of the same layer is not counted
        twice; ``self_s`` is span time not covered by child spans."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            for k in ("driver_s", "self_s", "jobs", "calls"):
                out[f"{layer}.{k}"] = 0.0
        for s in self.spans:
            dur = s.end - s.start
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += max(dur - _union_length(s.children), 0.0)
            if s.boundary:
                out[f"{s.layer}.driver_s"] += dur
                out[f"{s.layer}.jobs"] += s.jobs
        return out

    def clean_tables_reuse(self, phases: tuple[str, ...] = ("close", "request")) -> float:
        """Share of ``clean_tables`` calls in ``phases`` that started no
        Spark job."""
        calls = [
            s for s in self.spans if s.name == "registry.clean_tables" and s.phase in phases
        ]
        if not calls:
            return 0.0
        return sum(1 for s in calls if s.jobs == 0) / len(calls)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "run_id": s.run_id,
                            "phase": s.phase,
                            "name": s.name,
                            "layer": s.layer,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "jobs": s.jobs,
                        }
                    )
                    + "\n"
                )
