"""Interactive layer + user-defined directive (UDD) registration."""

from pyspark.sql import functions as F

from wrangler_spark import Pipeline, directive
from wrangler_spark.directive import Arg, Directive
from wrangler_spark.interactive import execute, schema
from wrangler_spark.parser.tokens import TokenType


def test_execute_roundtrip(spark):
    df = spark.createDataFrame([("alice", "30"), ("bob", "x")], ["name", "age"])
    resp = execute("uppercase :name\nset-type :age int", df, limit=10)
    assert resp.headers == ["name", "age"]
    assert resp.types["age"] == "int"
    assert resp.values[0]["name"] in ("ALICE", "BOB")
    assert resp.directives == ["uppercase", "set-type"]


def test_execute_with_summary_and_errors(spark):
    df = spark.createDataFrame([("a@b.com",), ("junk",)], ["email"])
    resp = execute(
        "send-to-error exp:{ !dq:isEmail(email) } 'bad'", df, with_summary=True
    )
    assert resp.error_count == 1
    assert len(resp.values) == 1
    assert 0 <= resp.summary["email"]["general.null"] <= 1


def test_schema_endpoint(spark):
    df = spark.createDataFrame([("1,2",)], ["body"])
    s = schema("parse-as-csv :body ',' false\nset-type :body_1 long", df)
    assert ("body_1", "bigint") in s


def test_user_defined_directive(spark):
    @directive
    class Reverse(Directive):
        """reverse-string :col — a user-defined directive (UDD parity:
        the reference loads plugin directives via #pragma load-directives;
        here any imported @directive registers)."""

        name = "reverse-string"
        usage = [Arg("column", TokenType.COLUMN)]

        def apply(self, ctx, df):
            col = ctx.resolve(df, self.args["column"])
            return df.withColumn(col, F.reverse(F.col(col)))

    df = spark.createDataFrame([("abc",)], ["s"])
    out = Pipeline.compile("reverse-string :s").apply(df)
    assert out.collect()[0]["s"] == "cba"


def test_pipeline_lineage(spark):
    p = Pipeline.compile("uppercase :name\ndrop :a,:b\nset-column :x exp:{ 1 }")
    lin = p.lineage()
    assert [r["directive"] for r in lin] == ["uppercase", "drop", "set-column"]
    assert lin[0]["columns"] == ["name"]
    assert lin[1]["columns"] == ["a", "b"]


def test_workspace_incremental(spark):
    from wrangler_spark.errors import DirectiveParseError
    from wrangler_spark.interactive import Workspace

    df = spark.createDataFrame([(1, " a "), (2, " b ")], ["id", "v"])
    ws = Workspace("w1", df)
    resp = ws.add("trim :v")
    assert resp.values[0]["v"] == "a"
    resp = ws.add("uppercase :v", "copy :v :v2")
    assert resp.values[0]["v2"] == "A" and ws.recipe().count("\n") == 2

    # bad directive rejected atomically — workspace state unchanged
    import pytest as _pt

    with _pt.raises(DirectiveParseError):
        ws.add("no-such-directive :v")
    assert len(ws.directives) == 3

    assert ws.undo() == ["copy :v :v2"]
    assert [t[0] for t in ws.schema()] == ["id", "v"]
    assert ws.execute().values[1]["v"] == "B"


def test_workspace_persistence_round_trip(spark, tmp_path):
    """wrangler-storage role: a workspace (sample + directive list) saved
    to a directory reloads with identical recipe, schema, and results."""
    from wrangler_spark.interactive import Workspace, WorkspaceStore

    df = spark.createDataFrame(
        [("  Alice  ", "10"), ("BOB", "20"), ("carol", "x")], ["name", "amt"]
    )
    store = WorkspaceStore(spark, str(tmp_path / "workspaces"))
    ws = Workspace("cleanup", df, limit=100)
    ws.add("trim :name", "lowercase :name")
    ws.add("set-type :amt integer")
    store.save(ws)

    assert store.list() == ["cleanup"]
    back = store.load("cleanup")
    assert back.recipe() == ws.recipe()
    assert back.schema() == ws.schema()
    a = sorted(r["name"] for r in back.execute().values)
    b = sorted(r["name"] for r in ws.execute().values)
    assert a == b == ["alice", "bob", "carol"]

    assert store.delete("cleanup") is True
    assert store.list() == [] and store.delete("cleanup") is False


def test_workspace_store_service_lifecycle(spark, tmp_path):
    """Golden mirror of the reference service's workspace lifecycle
    (wrangler-service DirectivesHandler.java:555-595): every execute runs
    the CURRENT recipe over the workspace sample under the sampling
    limit, the response carries (values, headers, types, directives), and
    the executed recipe is persisted with the workspace — a reload after
    further edits + save must re-execute byte-identically to the session
    that saved it."""
    from wrangler_spark.interactive import Workspace, WorkspaceStore

    df = spark.createDataFrame(
        [(i, f" u{i} ", str(i * 10)) for i in range(8)], ["id", "name", "amt"]
    )
    store = WorkspaceStore(spark, str(tmp_path / "ws"))

    # session 1: iterate (execute-on-sample per add), then save
    ws = Workspace("sess", df, limit=5)
    ws.add("trim :name")
    r1 = ws.add("set-type :amt integer")
    assert r1.directives == ["trim", "set-type"]  # response carries recipe
    store.save(ws)

    # session 1 continues editing AFTER the save; re-save persists the
    # updated request (the service's updateWorkspaceRequest overwrite)
    ws.add("uppercase :name")
    store.save(ws)

    # session 2: reload → identical recipe, schema, and execution response
    back = store.load("sess")
    assert back.recipe() == "trim :name\nset-type :amt integer\nuppercase :name"
    a, b = ws.execute(), back.execute()
    assert a.headers == b.headers and a.types == b.types
    assert a.values == b.values and a.directives == b.directives
    # the workspace sample was bounded to 5 rows at creation (the
    # service's sampling subList) — both sessions execute over exactly it
    assert {r["name"] for r in b.values} == {f"U{i}" for i in range(5)}

    # the sampling limit contract: the sample is bounded at workspace
    # creation (the design-time subList), so a reloaded workspace made
    # from a limited sample executes over exactly that many rows
    small = Workspace("lim", df, limit=3)
    small.add("trim :name")
    store.save(small)
    assert len(store.load("lim").execute().values) == len(small.execute().values)


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (fn's result, the ids
    of the Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_workspace_requests_run_no_spark_jobs(spark, tmp_path):
    """The sample is materialized once, when the workspace is created;
    afterwards a native recipe — parse-as-csv's compile-time sample
    included — and the response collect fold over the driver-held rows
    and submit no Spark job."""
    from wrangler_spark.interactive import Workspace

    path = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(f"{i},n{i},{i * 1.5}",) for i in range(50)], ["body"]
    ).coalesce(1).write.parquet(path)
    ws, created = _jobs_in_group(
        spark, "ws-create", lambda: Workspace("jobs", spark.read.parquet(path), limit=20)
    )
    assert created  # the one materialization job

    def requests():
        ws.add(
            "parse-as-csv :body ',' false", "drop :body",
            "set-type :body_3 double", "uppercase :body_2",
            "filter-row exp:{ body_3 > 3.0 } true",
        )
        return ws.execute()

    resp, jobs = _jobs_in_group(spark, "ws-requests", requests)
    assert jobs == []
    assert resp.headers == ["body_1", "body_2", "body_3"]
    assert sorted(r["body_2"] for r in resp.values) == ["N0", "N1", "N2"]


def test_workspace_sample_fixed_over_nondeterministic_source(spark):
    """Every request sees the rows the workspace was created with, even
    when re-reading the source would return others. (``F.rand()`` takes
    its seed when the column is built, so a Python UDF stands in for a
    source that really differs per read.)"""
    import random

    from wrangler_spark.interactive import Workspace

    shuffle_key = F.udf(lambda: random.random(), "double").asNondeterministic()
    df = spark.range(200).orderBy(shuffle_key())
    ws = Workspace("nondet", df, limit=10)
    first = ws.add("set-column :twice exp:{ id * 2 }").values
    assert len(first) == 10
    assert ws.execute().values == first
    assert ws.execute().values == first


def test_workspace_sample_round_trips_types(spark):
    """The local sample keeps the source schema exactly (nullability
    included) and its values, across temporal, decimal, nested,
    interval and binary types."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from wrangler_spark.interactive import Workspace

    schema = T.StructType([
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("dec", T.DecimalType(20, 4), True),
        T.StructField("arr", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("m", T.MapType(T.StringType(), T.LongType(), True), True),
        T.StructField("st", T.StructType([
            T.StructField("x", T.IntegerType(), False),
            T.StructField("y", T.StringType(), True),
        ]), True),
        T.StructField("dti", T.DayTimeIntervalType(), True),
        T.StructField("bin", T.BinaryType(), True),
    ])
    rows = [
        (dt.datetime(2024, 1, 2, 3, 4, 5, 123456), Decimal("12345.6789"), [1, None, 3],
         {"a": 1, "b": None}, (7, "z"), dt.timedelta(days=1, seconds=7384, microseconds=5),
         bytearray(b"\x00\xff\x10")),
        (dt.datetime(1999, 12, 31, 23, 59, 59), None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    ws = Workspace("types", df)
    assert ws._sample.schema == df.schema
    resp = ws.execute()
    assert resp.types == dict(df.dtypes)
    assert resp.values == [r.asDict(recursive=True) for r in df.collect()]


def test_workspace_pandas_udf_directive_over_local_sample(spark):
    """A directive compiled to a pandas UDF (mask-shuffle) is not folded
    into the local relation; it still returns the values the recipe
    produces on the lazy source."""
    from wrangler_spark.interactive import Workspace

    df = spark.createDataFrame(
        [(i, f"Name{i}x", f"A{i}-b") for i in range(6)], ["id", "name", "code"]
    )
    recipe = "mask-shuffle :name\nmask-shuffle :code"
    want = [r.asDict() for r in Pipeline.compile(recipe).apply(df).orderBy("id").collect()]
    ws = Workspace("udf", df)
    got = sorted(ws.add(*recipe.splitlines()).values, key=lambda r: r["id"])
    assert got == want and want[0]["name"] != "Name0x"
