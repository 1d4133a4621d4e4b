"""Spans and Spark stage metrics for the traced run.

Spans are recorded from the benchmark's side: :func:`Tracer.install`
wraps the program's public entry points (the engine's query handler,
``executor.execute_plan``, the planner, the ``sqlparser.try_parse*``
family, the synopsis builders, maintenance and ``Catalog.save``) with
functions that note start and end. The program's own code is untouched.

Spark work is attributed per request by a job group set in the client
thread: ``<rid>`` while the engine routes and plans, ``<rid>.x`` inside
``execute_plan``. Stage metrics are read once, at the end, from
``statusTracker().getJobIdsForGroup`` and the status store's
``lastStageAttempt``; both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "approximate_query_engine_spark"
#: status-store retention the traced run needs (every job of the run)
TRACE_CONFS = {"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"}


@dataclass
class Span:
    name: str
    rid: str | None
    start: float
    end: float
    parent: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    input_rows: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Tracer:
    """Records spans for the requests begun with ``traced``; the wrappers
    stay installed and cost a thread-local flag test otherwise."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- request scope ---------------------------------------------------
    def begin(self, rid: str, traced: bool) -> None:
        """Mark the calling thread as serving request ``rid``; a traced
        request records spans and tags its Spark jobs with its group."""
        self._local.rid = rid
        self._local.on = traced
        self._local.stack = []
        if traced:
            self.spark.sparkContext.setJobGroup(rid, rid)

    def end(self) -> None:
        if getattr(self._local, "on", False):
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._local.on = False
        self._local.rid = None

    # -- spans -----------------------------------------------------------
    def wrap(self, fn, name: str, exec_group: bool = False):
        """``fn`` wrapped in a span named ``name``; ``exec_group`` moves
        the Spark jobs it runs into the request's execution group."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            local = tracer._local
            if not getattr(local, "on", False):
                return fn(*args, **kwargs)
            rid = getattr(local, "rid", None)
            stack = local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            sc = tracer.spark.sparkContext
            if exec_group and rid:
                sc.setJobGroup(rid + ".x", rid)
            stack.append(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                if exec_group and rid:
                    sc.setJobGroup(rid, rid)
                with tracer._lock:
                    tracer.spans.append(Span(name, rid, t0, t1, parent))

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self, eng) -> None:
        """Wrap the entry points of the engine ``eng`` and of the package's
        modules (parse functions are looked up from every module that
        imported them)."""
        from approximate_query_engine_spark import executor, sqlparser

        def patch(obj, attr, name, **kw):
            fn = getattr(obj, attr)
            if not getattr(fn, "__wrapped_by_perfbench__", False):
                setattr(obj, attr, self.wrap(fn, name, **kw))

        patch(eng, "query", "engine.query")
        patch(eng.planner, "plan", "planner.plan")
        patch(eng, "maintain", "maintenance.run")
        patch(eng, "create_rollup", "rollup.build")
        patch(eng, "refresh_rollup", "rollup.refresh")
        patch(eng, "analyze_table", "catalog.analyze")
        patch(eng.catalog, "save", "catalog.save")
        patch(eng.sketches, "create", "sketches.build")
        for attr in dir(eng.sampler):
            if attr.startswith("create_") and callable(getattr(eng.sampler, attr)):
                patch(eng.sampler, attr, "sampler.build")
        patch(executor, "execute_plan", "executor.execute_plan", exec_group=True)
        parse_fns = [getattr(sqlparser, n) for n in dir(sqlparser) if n.startswith("try_parse")]
        wrapped = {
            id(fn): self.wrap(fn, "sqlparser.parse")
            for fn in parse_fns
            if not getattr(fn, "__wrapped_by_perfbench__", False)
        }
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    setattr(mod, attr, wrapped[id(val)])

    # -- Spark stage metrics ----------------------------------------------
    def stage_totals(self, groups: list[str]) -> dict[str, StageTotals]:
        """Per job group, the summed metrics of its jobs' last stage
        attempts. Waits for the listener bus first so late stage-end
        events are counted."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private API; fall back to a pause
            time.sleep(1.0)
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out: dict[str, StageTotals] = {}
        for group in groups:
            tot = StageTotals()
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                tot.jobs += 1
                for stage_id in info.stageIds:
                    try:
                        sd = store.lastStageAttempt(int(stage_id))
                    except Exception:  # noqa: BLE001 - stage evicted/skipped
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    tot.stages += 1
                    tot.tasks += int(sd.numCompleteTasks())
                    tot.run_ms += float(sd.executorRunTime())
                    tot.cpu_ms += float(sd.executorCpuTime()) / 1e6
                    tot.input_rows += int(sd.inputRecords())
                    tot.output_bytes += int(sd.outputBytes())
                    tot.shuffle_write_bytes += int(sd.shuffleWriteBytes())
                    tot.spill_bytes += int(sd.memoryBytesSpilled()) + int(
                        sd.diskBytesSpilled()
                    )
            out[group] = tot
        return out
