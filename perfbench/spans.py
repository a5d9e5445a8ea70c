"""Benchmark-side layer tracing: spans, job attribution, planning phases.

Nothing inside ``wrangler_spark`` is instrumented. Instead the traced run
wraps the public entry points of each layer from here (the functions are
swapped on their classes and modules for the length of the run):

- ``parser`` + ``pipeline``: ``Pipeline.compile``
- ``directives`` + ``expression``: ``Pipeline.transform``,
  ``compile_expression`` / ``compile_condition``
- ``datapipe``: the operator call, made by the workload inside ``span``
- ``interactive`` + ``statistics``: ``Workspace.add`` / ``execute`` /
  ``undo`` and ``basic_statistics``
- ``spark``: DataFrame actions (``collect``, ``toPandas``, ``count``,
  ``DataFrameWriter.save``) plus every job, stage and task the status
  store saw, and the QueryPlanningTracker phases of every query
  execution (read through a ``QueryExecutionListener``).

The wrappers and the listener are in place only during traced
operations; the untraced operations of a traced run run as in an
untraced run. Each span records name, start, end, parent and op id. Every span sets
its own Spark job group, so a job is attributed to the innermost span
that was open when it was submitted. Spans stay in memory and are
written once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

ACTION_SPANS = ("spark.sink", "spark.collect", "spark.toPandas", "spark.count", "spark.save")


class _PlanningListener:
    """py4j implementation of ``QueryExecutionListener``: keeps the
    tracker phase durations of every finished query execution."""

    def __init__(self):
        self.events: list[dict] = []

    def _record(self, func_name, qe, ok):
        ev = {"func": func_name, "ok": ok}
        # runs on the py4j callback thread: an exception here would only
        # reach the JVM's listener bus log, so keep it with the event
        try:
            phases = qe.tracker().phases()
            for k in ("analysis", "optimization", "planning"):
                o = phases.get(k)
                ev[k] = o.get().durationMs() if o.isDefined() else 0
        except Py4JError as e:
            ev["error"] = repr(e)
        self.events.append(ev)

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803
        self._record(funcName, qe, True)

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        self._record(funcName, qe, False)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.op_layers: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._op_id: int | None = None
        self._traced = False
        self._restore: list[tuple[object, str, object]] = []
        self._listener: _PlanningListener | None = None

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._seq, "name": name, "op": self._op_id,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{self._op_id}-{self._seq}",
        }
        self.sc.setJobGroup(sp["group"], name)
        self._stack.append(sp)
        sp["start"] = time.time()
        try:
            yield
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def _wrap(self, owner, attr: str, name: str) -> None:
        # ``raw`` is None for a method ``owner`` inherits: the wrapper is
        # set on ``owner`` and deleted again by ``uninstall``
        raw = vars(owner).get(attr)
        current = raw if raw is not None else getattr(owner, attr)
        is_classmethod = isinstance(current, classmethod)
        fn = current.__func__ if is_classmethod else current
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, classmethod(wrapper) if is_classmethod else wrapper)
        self._restore.append((owner, attr, raw))

    def install(self) -> None:
        """Wrap each layer's public entry points and register the
        planning listener, unless that is done already."""
        if self._restore:
            return
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import wrangler_spark.expression as expression
        import wrangler_spark.interactive as interactive
        import wrangler_spark.statistics as statistics
        from wrangler_spark.pipeline import Pipeline

        self._wrap(Pipeline, "compile", "pipeline.compile")
        self._wrap(Pipeline, "transform", "pipeline.transform")
        self._wrap(expression, "compile_expression", "expression.compile_expression")
        self._wrap(expression, "compile_condition", "expression.compile_condition")
        self._wrap(interactive.Workspace, "add", "interactive.add")
        self._wrap(interactive.Workspace, "execute", "interactive.execute")
        self._wrap(interactive.Workspace, "undo", "interactive.undo")
        # interactive.execute calls the name it imported, so wrap both
        self._wrap(statistics, "basic_statistics", "statistics.basic_statistics")
        self._wrap(interactive, "basic_statistics", "statistics.basic_statistics")
        self._wrap(DataFrame, "collect", "spark.collect")
        self._wrap(DataFrame, "toPandas", "spark.toPandas")
        self._wrap(DataFrame, "count", "spark.count")
        self._wrap(DataFrameWriter, "save", "spark.save")

        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PlanningListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            if raw is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._restore.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # --------------------------------------------------------------- ops
    def begin(self, op_id: int, traced: bool) -> None:
        """Untimed preparation of one operation: install or remove the
        tracing, let earlier listener events land and note which
        group-less jobs already exist."""
        self._op_id = op_id
        self._traced = traced
        if not traced:
            self.uninstall()
        else:
            self.install()
            self._drain_listener()
            self._no_group_before = set(self.sc.statusTracker().getJobIdsForGroup(None) or [])
            self._first_span = len(self.spans)

    @contextmanager
    def op(self, name: str):
        """The timed body of the operation begun with :meth:`begin`."""
        self.enabled = self._traced
        try:
            with self.span(f"op.{name}"):
                yield
        finally:
            self.enabled = False

    def finish(self) -> None:
        """Untimed: attribute the operation's jobs, stages, tasks and
        planning phases to its spans and keep the per-op layer figures."""
        if self._traced:
            self._traced = False
            self._finish_op(self._op_id, self._first_span, self._no_group_before)

    def _drain_listener(self) -> list[dict]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        if self._listener is None:
            return []
        ev, self._listener.events = self._listener.events, []
        return ev

    def _finish_op(self, op_id: int, first_span: int, no_group_before: set) -> None:
        planning = self._drain_listener()
        tracker = self.sc.statusTracker()
        store = self.spark._jsparkSession.sparkContext().statusStore()
        spans = self.spans[first_span:]
        by_id = {s["id"]: s for s in spans}
        root = next(s for s in spans if s["parent"] is None)
        stray = set(tracker.getJobIdsForGroup(None) or []) - no_group_before

        jobs: dict[int, dict] = {}
        for s in spans:
            ids = list(tracker.getJobIdsForGroup(s["group"]) or [])
            if s is root:
                ids += sorted(stray)
            s["jobs"] = sorted(ids)
            for jid in ids:
                jobs[jid] = self._job_record(store, jid)
        for s in spans:
            s["self_s"] = (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in spans if c["parent"] == s["id"]
            )

        def under(s, prefix: str) -> bool:
            while s is not None:
                if s["name"].startswith(prefix):
                    return True
                s = by_id.get(s["parent"])
            return False

        def total(prefix: str) -> float:
            # outermost spans only, so recursion is not counted twice
            return sum(
                s["end"] - s["start"] for s in spans
                if s["name"].startswith(prefix) and not under(by_id.get(s["parent"]), prefix)
            )

        def jobs_under(prefix: str) -> int:
            return sum(len(s["jobs"]) for s in spans if under(s, prefix))

        wall = root["end"] - root["start"]
        intervals = sorted(
            (max(j["start"], root["start"]), min(j["end"], root["end"]))
            for j in jobs.values() if j["start"] is not None and j["end"] is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s0, e0 in intervals:
            if cur_e is None or s0 > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s0, e0
            else:
                cur_e = max(cur_e, e0)
        if cur_e is not None:
            covered += cur_e - cur_s

        layers = {
            "pipeline.compile_s": total("pipeline.compile"),
            "pipeline.compile_calls": sum(1 for s in spans if s["name"] == "pipeline.compile"),
            "directives.build_s": total("pipeline.transform"),
            "directives.build_jobs": jobs_under("pipeline.transform"),
            "expression.compile_s": total("expression.compile"),
            "interactive.execute_s": total("interactive."),
            "statistics.summary_s": total("statistics.basic_statistics"),
            "datapipe.build_s": total("datapipe."),
            "datapipe.build_jobs": jobs_under("datapipe."),
            "spark.analysis_ms": sum(e.get("analysis", 0) for e in planning),
            "spark.optimization_ms": sum(e.get("optimization", 0) for e in planning),
            "spark.planning_ms": sum(e.get("planning", 0) for e in planning),
            "spark.queries": len(planning),
            "spark.action_s": sum(
                s["end"] - s["start"] for s in spans
                if s["name"] in ACTION_SPANS and not any(
                    a in ACTION_SPANS for a in self._ancestor_names(s, by_id)
                )
            ),
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs.values()),
            "spark.tasks": sum(j["tasks"] for j in jobs.values()),
            "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs.values()),
            "spark.job_wall_s": sum(
                j["end"] - j["start"] for j in jobs.values()
                if j["start"] is not None and j["end"] is not None
            ),
            "spark.driver_gap_s": wall - covered,
            "spark.shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in jobs.values()),
        }
        for s in spans:
            if s["name"].startswith("datapipe.") and not under(by_id.get(s["parent"]), "datapipe."):
                key = f"{s['name']}.build_s"
                layers[key] = layers.get(key, 0.0) + (s["end"] - s["start"])
        self.op_layers.append({"op": op_id, "wall_s": wall, "layers": layers})

    @staticmethod
    def _ancestor_names(s, by_id):
        p = by_id.get(s["parent"])
        while p is not None:
            yield p["name"]
            p = by_id.get(p["parent"])

    @staticmethod
    def _job_record(store, jid: int) -> dict:
        j = store.job(jid)
        sub, comp = j.submissionTime(), j.completionTime()
        shuffle = 0
        seq = j.stageIds()
        stage_ids = [seq.apply(i) for i in range(seq.size())]
        for sid in stage_ids:
            try:
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Py4JError:  # the store keeps no attempt of a skipped stage
                pass
        return {
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            "stages": len(stage_ids) - j.numSkippedStages(),
            "tasks": j.numCompletedTasks() + j.numFailedTasks(),
            "failed_tasks": j.numFailedTasks(),
            "shuffle_write_bytes": shuffle,
        }

    # ------------------------------------------------------------ output
    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(json.dumps({"kind": "run", **extra}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **s}) + "\n")
            for o in self.op_layers:
                f.write(json.dumps({"kind": "op", **o}) + "\n")
