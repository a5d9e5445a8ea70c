"""The three closed-loop workloads.

Each workload sets up its inputs (``prepare``), warms its code paths
once outside the measurement (``prime``), runs timed operations
(``run_op``) and finally checks what it produced against DuckDB
(``gate``, outside every timed region). An operation that raises is
recorded as failed and the loop goes on.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracle

CURATION_OPS = ["dedup_minhash_cc", "text_clf_score", "dedup_ngram_word"]


@dataclass
class OpResult:
    wall_s: float
    ok: bool = True
    kind: str = ""
    error: str | None = None
    session: int | None = None


@dataclass
class Workload:
    spark: object
    data_dir: str
    seed: int
    scale: str
    tracer: object
    entry: object
    failures: list[str] = field(default_factory=list)
    live_after_op: list[int] = field(default_factory=list)

    # the parquet files the operations read; set by ``prepare``
    input_paths: list[str] = field(default_factory=list)

    name = ""
    rows = 0
    # the loop runs whole units of this many ops, so that every run
    # measures the same mix of work
    unit_ops = 1

    def __post_init__(self):
        """Subclasses set up their own state here."""

    def traced(self, op_id: int) -> bool:
        """Whether op ``op_id`` of a traced run is traced: every other one."""
        return op_id % 2 == 0

    def sink(self, df) -> None:
        with self.tracer.span("spark.sink"):
            df.write.format("noop").mode("overwrite").save()

    def timed(self, op_id: int, traced: bool, body) -> OpResult:
        """Run ``body`` as one operation; exceptions count as a failure."""
        from wrangler_spark.datapipe import live_count

        self.tracer.begin(op_id, traced)
        t0 = time.perf_counter()
        try:
            with self.tracer.op(self.name):
                kind = body()
            res = OpResult(time.perf_counter() - t0, True, kind or "")
        except Exception as e:  # noqa: BLE001 - every failure is counted
            res = OpResult(time.perf_counter() - t0, False, "raised",
                           f"{type(e).__name__}: {str(e)[:300]}")
            self.failures.append(f"op {op_id} raised {res.error}")
            traceback.print_exc()
        self.tracer.finish()
        self.live_after_op.append(live_count())
        return res


class RecipeBatch(Workload):
    """The cleansing recipe over lineitem rendered as CSV lines."""

    name = "recipe_batch"
    query = "cleanse_recipe"

    def prepare(self) -> None:
        path = os.path.join(self.data_dir, "lineitem.parquet")
        self.rows = inputs.write_lineitem(path, self.scale)
        self.input_paths = [path]

    def prime(self) -> None:
        # the sf0.001 table: 6k rows
        self.sink(self.entry.queries()[self.query](self.spark, inputs.table_dir("small")))

    def run_op(self, op_id: int, traced: bool) -> OpResult:
        from wrangler_spark.datapipe import checkpoint_scope

        def body():
            with checkpoint_scope():
                self.sink(self.entry.queries()[self.query](self.spark, self.data_dir))
            return "batch"
        return self.timed(op_id, traced, body)

    def gate(self, results: list[OpResult]) -> None:
        """Materializes the recipe once more and compares it with the
        oracle; every op of the run computed this same plan, so a
        mismatch fails them all."""
        from wrangler_spark.datapipe import checkpoint_scope

        with checkpoint_scope():
            got = self.entry.queries()[self.query](self.spark, self.data_dir).toArrow()
        con = oracle.connect({"lineitem": self.input_paths[0]})
        diff = oracle.compare(
            con, got, oracle.expect(con, "expected", self.entry.oracle_sql()[self.query]))
        if diff:
            self.failures.append(f"{self.query}: {diff}")
            for r in results:
                r.ok = False


class CurationPass(Workload):
    """One pass = the three datapipe operators in fixed order, each to the
    noop sink inside its own checkpoint_scope."""

    name = "curation_pass"

    def __post_init__(self):
        # (pass, operator, parquet file of its output), compared by the gate
        self.outputs: list[tuple[int, str, str]] = []
        self.tables = inputs.table_dir(self.scale)

    def prepare(self) -> None:
        path = os.path.join(self.tables, "documents.parquet")
        self.rows = inputs.rows(path)
        self.input_paths = [path]

    def prime(self) -> None:
        from wrangler_spark.datapipe import checkpoint_scope

        # one whole pass: the first pass in a fresh JVM takes about three
        # warm ones, and after a pass over fewer documents the next pass
        # was still 5-10% slower than the one after it
        for q in CURATION_OPS:
            with checkpoint_scope():
                self.sink(self.entry.queries()[q](self.spark, self.tables))

    def run_op(self, op_id: int, traced: bool) -> OpResult:
        """The pass wall is the sum of the three operators' walls. Between
        them, untimed and while the operator's checkpoints are still live,
        each output is collected and written to a parquet file for the
        gate, so the process holds one output at a time."""
        from wrangler_spark.datapipe import checkpoint_scope, live_count

        wall, ok, err = 0.0, True, None
        for q in CURATION_OPS:
            out = {}

            def body(q=q, out=out):
                with self.tracer.span(f"datapipe.{q}"):
                    out["df"] = self.entry.queries()[q](self.spark, self.tables)
                self.sink(out["df"])

            self.tracer.begin(op_id, traced)
            t0 = time.perf_counter()
            try:
                with checkpoint_scope():
                    with self.tracer.op(self.name):
                        body()
                    t1 = time.perf_counter()
                    self.tracer.finish()
                    path = os.path.join(self.data_dir, f"out-{op_id}-{q}.parquet")
                    pq.write_table(out["df"].toArrow(), path)
                    self.outputs.append((op_id, q, path))
                    t2 = time.perf_counter()
                wall += (t1 - t0) + (time.perf_counter() - t2)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                wall += time.perf_counter() - t0
                ok, err = False, f"{q}: {type(e).__name__}: {str(e)[:300]}"
                self.failures.append(f"pass {op_id} raised {err}")
                traceback.print_exc()
                self.tracer.finish()
            self.live_after_op.append(live_count())
        return OpResult(wall, ok, "pass" if ok else "raised", err)

    def gate(self, results: list[OpResult]) -> None:
        con = oracle.connect({"documents": self.input_paths[0]})
        sqls = self.entry.oracle_sql()
        expected = {q: oracle.expect(con, f"expected_{q}", sqls[q]) for q in CURATION_OPS}
        by_id = {i: r for i, r in enumerate(results)}
        for op_id, q, path in self.outputs:
            diff = oracle.compare(con, pq.read_table(path), expected[q])
            if diff:
                self.failures.append(f"pass {op_id} {q}: {diff}")
                if op_id in by_id:
                    by_id[op_id].ok = False


# ------------------------------------------------------------ interactive
HEADERS = inputs.LINEITEM_COLUMNS


def session_steps(rng: np.random.Generator) -> list[tuple[str, tuple]]:
    """A cleansing recipe typed one directive at a time, with this
    session's own literals: (directive line, structured step) pairs."""
    flag_case = "upper" if rng.random() < 0.5 else "lower"
    status_case = "lower" if rng.random() < 0.5 else "upper"
    fill = "UVWXYZ"[int(rng.integers(0, 6))]
    mask = "".join("#x"[int(b)] for b in rng.integers(0, 2, int(rng.integers(4, 9))))
    qty = int(rng.integers(5, 46))
    rate = f"{rng.integers(50, 151) / 100:.2f}"
    return [
        ("parse-as-csv :body ',' false", ("parse-csv", len(HEADERS))),
        ("drop :body", ("drop", "body")),
        ("set-headers " + ",".join(f":{h}" for h in HEADERS), ("set-headers", HEADERS)),
        ("set-type :l_quantity double", ("double", "l_quantity")),
        ("set-type :l_extendedprice double", ("double", "l_extendedprice")),
        ("set-type :l_discount double", ("double", "l_discount")),
        (f"fill-null-or-empty :l_returnflag '{fill}'", ("fill", "l_returnflag", fill)),
        (f"{flag_case}case :l_returnflag", (flag_case, "l_returnflag")),
        (f"{status_case}case :l_linestatus", (status_case, "l_linestatus")),
        (f"mask-number :l_orderkey '{mask}'", ("mask", "l_orderkey", mask)),
        (f"filter-row exp:{{ l_quantity > {qty}.0 }} true", ("filter-gt", "l_quantity", f"{qty}.0")),
        (f"set-column :revenue exp:{{ l_extendedprice * (1.0 - l_discount) * {rate} }}",
         ("revenue", "revenue", rate)),
    ]


# the request kinds of every session, in order: 12 adds (one per step),
# 2 undos each followed by re-adding the step, and 2 summary requests;
# 1 request in 9 is an undo and 1 in 9 a summary. The seed picks the
# sample rows and the literals only, so every seed asks the engine for the
# same kinds of work.
SESSION_SCRIPT = (
    ["add"] * 4 + ["summary"] + ["add"] * 2 + ["undo", "add"] + ["add"] * 3
    + ["undo", "add"] + ["add"] * 3 + ["summary"]
)


class _Session:
    def __init__(self, workload, index: int):
        from wrangler_spark.interactive import Workspace

        self.index = index
        # the priming session (index -1) draws from its own stream
        self.rng = np.random.default_rng(
            [workload.seed, 7, index] if index >= 0 else [workload.seed, 8])
        self.steps = session_steps(self.rng)
        self.ws = Workspace(f"s{index}", workload.sample_df(), limit=workload.rows)
        self.applied: list[tuple] = []
        self.last = None
        self.requests = 0

    @property
    def done(self) -> bool:
        return self.requests == len(SESSION_SCRIPT)

    def next_kind(self) -> str:
        return SESSION_SCRIPT[self.requests]

    def request(self, kind: str) -> str:
        """One request of the script; a request that raises is not
        retried, the session goes on with the next one."""
        self.requests += 1
        if kind == "add":
            line, step = self.steps[len(self.applied)]
            self.last = self.ws.add(line)
            self.applied.append(step)
        elif kind == "undo":
            self.ws.undo()
            self.applied.pop()
            self.last = self.ws.execute()
        else:
            self.last = self.ws.execute(with_summary=True)
        return kind


class RecipeInteractive(Workload):
    """One design-time user, no think time: seeded sessions build a
    cleansing recipe over a CSV sample through ``Workspace``."""

    name = "recipe_interactive"
    unit_ops = len(SESSION_SCRIPT)

    def __post_init__(self):
        self.sessions: list[_Session] = []

    @property
    def sample_path(self) -> str:
        return os.path.join(self.data_dir, "sample.parquet")

    def sample_df(self):
        return self.spark.read.parquet(self.sample_path)

    def prepare(self) -> None:
        self.rows = inputs.write_csv_sample(self.sample_path, self.scale, self.seed)
        self.input_paths = [self.sample_path]

    def traced(self, op_id: int) -> bool:
        # a session is an even number of requests: flip the parity every
        # session, so each request of the script is traced in every other one
        return (op_id + op_id // len(SESSION_SCRIPT)) % 2 == 0

    def prime(self) -> None:
        # one whole session: the first requests in a fresh JVM take about
        # twice as long as warm ones
        s = _Session(self, -1)
        for kind in SESSION_SCRIPT:
            s.request(kind)

    def run_op(self, op_id: int, traced: bool) -> OpResult:
        if not self.sessions or self.sessions[-1].done:
            self.sessions.append(_Session(self, len(self.sessions)))
        s = self.sessions[-1]
        kind = s.next_kind()
        res = self.timed(op_id, traced, lambda: s.request(kind))
        res.session = s.index
        return res

    def gate(self, results: list[OpResult]) -> None:
        """Each session's final response against the session's SQL."""
        con = oracle.connect({"sample": self.sample_path})
        for s in self.sessions:
            if s.last is None:
                continue
            got = pd.DataFrame(s.last.values, columns=s.last.headers)
            diff = oracle.compare(
                con, got, oracle.expect(con, "expected", oracle.session_sql(s.applied)))
            if diff:
                self.failures.append(f"session {s.index}: {diff}")
                # the session's last request produced the wrong response
                for r in reversed(results):
                    if r.session == s.index:
                        r.ok = False
                        break


WORKLOADS = {w.name: w for w in (RecipeBatch, RecipeInteractive, CurationPass)}
