"""Interactive (design-time) layer — parity with the reference's REST
service execute/summary/schema endpoints (``wrangler-service/.../directive/
DirectivesHandler.java:555-595``, ``AbstractDirectiveHandler.java:103-211``)
as plain functions: same compiler, applied to a sample, no HTTP.

The sample is materialized ONCE and held in driver memory as a JVM
``LocalRelation``, like the reference's stored workspace rows
(``DirectivesHandler.java:571-578``). Requests then plan over
``LocalTableScan``: Catalyst's ``ConvertToLocalRelation`` folds a native
recipe at optimize time, so compile-time parse samples and the response
collect run no Spark jobs, and a nondeterministic source cannot change
the sample between requests.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from wrangler_spark.pipeline import Pipeline
from wrangler_spark.statistics import basic_statistics


@dataclass
class ExecutionResponse:
    """What the service returns per execute(): sample values, per-column
    types, the directives applied — plus errors and summary on demand."""

    values: list[dict[str, Any]]
    types: dict[str, str]
    headers: list[str]
    directives: list[str]
    error_count: int = 0
    summary: dict[str, dict[str, float]] = field(default_factory=dict)


def _local_sample(df: DataFrame) -> DataFrame:
    """The rows of ``df`` as a driver-held LocalRelation: one Spark job,
    built JVM-side (rows never cross into Python or Arrow), with the
    exact schema, nullability included."""
    jdf = df._jdf.toDF()  # spark.range() frames wrap a Dataset[Long]
    jss = df.sparkSession._jsparkSession
    return DataFrame(jss.createDataFrame(jdf.collectAsList(), jdf.schema()), df.sparkSession)


def execute(
    recipe: str | list[str],
    df: DataFrame,
    limit: int = 100,
    with_summary: bool = False,
) -> ExecutionResponse:
    """Run a recipe over a bounded sample and return values + inferred
    schema (the workspace 'execute' round-trip). The sample bound is
    applied BEFORE the recipe, like the service truncating the workspace
    sample to ``sampling.limit``; the bounded sample is materialized once
    into driver memory (:func:`_local_sample`) and the recipe runs over
    those rows, the same path :class:`Workspace` requests take."""
    return _execute_local(recipe, _local_sample(df.limit(limit)), with_summary)


def _execute_local(recipe: str | list[str], sample: DataFrame, with_summary: bool) -> ExecutionResponse:
    from wrangler_spark.datapipe import checkpoint_scope

    # every value leaving this function is plain Python (rows, types,
    # counts), so the scope releases any localCheckpoint an operator
    # pinned as soon as the execution materializes — a long-lived design
    # session runs storage-flat instead of accumulating dead blocks per
    # execute round-trip (the r7-measured session leak)
    with checkpoint_scope():
        pipeline = Pipeline.compile(recipe)
        result = pipeline.transform(sample)
        out = result.df
        rows = [r.asDict(recursive=True) for r in out.collect()]
        types = dict(out.dtypes)
        resp = ExecutionResponse(
            values=rows,
            types=types,
            headers=out.columns,
            directives=[d.name for d in pipeline.directives],
            error_count=result.errors().count() if result.ctx.error_frames else 0,
        )
        if with_summary:
            resp.summary = basic_statistics(out)
    return resp


def schema(recipe: str | list[str], df: DataFrame, limit: int = 100) -> list[tuple[str, str]]:
    """The /schema endpoint: output schema of the recipe on this input."""
    out = Pipeline.compile(recipe).transform(df.limit(limit)).df
    return [(f.name, f.dataType.simpleString()) for f in out.schema.fields]


class Workspace:
    """Design-time workspace parity (wrangler-service keeps a named
    sample + the directive list applied so far; the UI appends/undoes
    directives and re-executes against the sample —
    ``DirectivesHandler.java`` workspace endpoints). Plain object, no
    HTTP: hold a bounded sample, build the recipe incrementally, then
    export the final recipe for the production pipeline.

    The sample is materialized once, here (the reference's separate
    "create workspace" call), and held in driver memory like the
    service's stored sample rows: add/execute/schema requests then run
    no Spark job for a native recipe (``summary`` runs its one aggregate)
    and always see the same rows. :meth:`plan` and :meth:`estimate`
    audit the lazy source-shaped plan instead, the one the recipe will
    have at scale."""

    def __init__(self, name: str, df: DataFrame, limit: int = 100):
        self.name = name
        self._source = df.limit(limit)
        self._sample = _local_sample(self._source)
        self.directives: list[str] = []

    def add(self, *directive_lines: str) -> "ExecutionResponse":
        """Append directive(s); compile-check them against the sample
        before accepting (a bad directive is rejected atomically)."""
        candidate = self.directives + [ln for ln in directive_lines if ln.strip()]
        resp = _execute_local(candidate, self._sample, with_summary=False)
        self.directives = candidate
        return resp

    def undo(self, n: int = 1) -> list[str]:
        """Drop the last n directives (workspace 'undo'); returns them."""
        if n <= 0:
            return []
        dropped = self.directives[-n:]
        self.directives = self.directives[:-n]
        return dropped

    def execute(self, with_summary: bool = False) -> "ExecutionResponse":
        return _execute_local(self.directives, self._sample, with_summary)

    def schema(self) -> list[tuple[str, str]]:
        return schema(self.directives, self._sample)

    def recipe(self) -> str:
        """The accumulated recipe text — what ships to the pipeline."""
        return "\n".join(self.directives)

    def plan(self):
        """Scale audit of the accumulated recipe's PHYSICAL plan
        (wrangler_spark.plans.audit) — run it at design time, before
        the recipe ships to a 100 TB pipeline: returns a PlanReport
        whose warnings are the repo's plan disciplines (Python in the
        hot path, cartesian joins, global windows, unpushed filters).
        Lazy — nothing executes."""
        from wrangler_spark.plans import audit

        return audit(Pipeline.compile(self.recipe()).apply(self._source))

    def estimate(self):
        """Catalyst's size/row estimate for the accumulated recipe
        (wrangler_spark.plans.estimate) — the magnitude pre-flight next
        to :meth:`plan`'s shape pre-flight: an estimate orders of
        magnitude above the input is the un-keyed-join bug caught
        before anything runs. Lazy — nothing executes."""
        from wrangler_spark.plans import estimate

        return estimate(Pipeline.compile(self.recipe()).apply(self._source))

    # --- persistence (the reference's wrangler-storage role: named
    # workspaces survive the session; here JSON + parquet on a local or
    # DFS path instead of a structured-storage service) ---

    def save(self, root: str) -> str:
        """Persist this workspace under ``root/<name>/``: the directive
        list + metadata as workspace.json, the bounded sample as ONE
        parquet file (small by construction — it is the design-time
        sample, not the production input — and one file reloads in the
        saved row order). Returns the workspace directory."""
        wdir = os.path.join(root, self.name)
        os.makedirs(wdir, exist_ok=True)
        self._sample.coalesce(1).write.mode("overwrite").parquet(os.path.join(wdir, "sample.parquet"))
        meta = {"name": self.name, "directives": self.directives, "version": 1}
        with open(os.path.join(wdir, "workspace.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f, indent=2)
        return wdir

    @classmethod
    def load(cls, spark: SparkSession, root: str, name: str) -> "Workspace":
        """Re-open a saved workspace: sample + directive list round-trip."""
        wdir = os.path.join(root, name)
        with open(os.path.join(wdir, "workspace.json"), encoding="utf-8") as f:
            meta = json.load(f)
        sample = spark.read.parquet(os.path.join(wdir, "sample.parquet"))
        ws = cls(meta["name"], sample, limit=2**31 - 1)
        ws.directives = list(meta["directives"])
        return ws


class WorkspaceStore:
    """Directory of named workspaces (wrangler-storage's workspace index,
    file-backed). list/save/load/delete — enough for a design session to
    survive a restart and hand recipes between users via a shared path."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def list(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isfile(os.path.join(self.root, d, "workspace.json"))
        )

    def save(self, ws: Workspace) -> str:
        return ws.save(self.root)

    def load(self, name: str) -> Workspace:
        return Workspace.load(self.spark, self.root, name)

    def delete(self, name: str) -> bool:
        wdir = os.path.join(self.root, name)
        if not os.path.isfile(os.path.join(wdir, "workspace.json")):
            return False
        shutil.rmtree(wdir)
        return True
