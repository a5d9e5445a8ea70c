"""End-to-end benchmark of wrangler_spark: one workload per invocation.

    python3 perfbench/run.py --workload recipe_interactive --seed 1 --seconds 12 --trace 0

Run from the root of a checkout (the package is imported from there).
Workloads: recipe_batch, recipe_interactive, curation_pass (see README.md
next to this file). One process drives the workload through the public
API on ``local[n]``, n = min(nproc, 4). The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it, each starting with ``perfbench``, give the environment,
all end-to-end figures (including failed_frac and the tail percentile)
and, when traced, every layer figure and the path of the span file.
Exits 1 when an output does not match the DuckDB oracle or an operation
raised, 2 when the checkout does not hold the program.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}
# on the detail line only: failed_frac is 0 on a good run, and the tail,
# one sample per run, spreads too far between runs to gate on
DETAIL_UNITS = {**E2E_UNITS, "op_tail_s": "s", "failed_frac": "ratio"}
LAYER_UNITS = {
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms", "spark.planning_ms": "ms",
    "spark.action_s": "s", "spark.job_wall_s": "s", "spark.driver_gap_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_bytes": "bytes",
    "pipeline.compile_calls": "count", "directives.build_jobs": "count",
    "datapipe.build_jobs": "count", "datapipe.checkpoints_live": "count",
    "trace.overhead_s": "s",
}
# layer times that only some workloads exercise: reported on the detail
# line and in the span file, not in the result line (they are 0 elsewhere)
DETAIL_LAYER_UNITS = {
    **LAYER_UNITS,
    "pipeline.compile_s": "s", "directives.build_s": "s", "expression.compile_s": "s",
    "interactive.execute_s": "s", "statistics.summary_s": "s",
    "datapipe.build_s": "s", "spark.queries": "count",
}
SETUPS = 5
MIN_OPS = 2
# Spark task threads: at most nproc, and no more than this so that a run
# on a larger machine does the same work within the same time budget
MAX_THREADS = 4
DRIVER_MEMORY = "1g"
# the JVM sizes its initial heap from the machine's memory and its GC
# threads from its cores; fixed here, so peak RSS does not depend on them
JVM_OPTIONS = "-Xms256m -XX:ParallelGCThreads={threads} -XX:ConcGCThreads=1"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(work: str, threads: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a heap the workloads fill, so peak RSS does not depend on how far
    # the collector chose to grow the 8 GiB default in this particular run
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", f"'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        + JVM_OPTIONS.format(threads=threads) + "'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _warm_engine(spark, paths: list[str]) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    for path in paths:
        spark.read.parquet(path).limit(10).collect()


def _environment(spark, args, nproc: int) -> dict:
    sc = spark.sparkContext
    conf = spark.conf
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "nproc": nproc,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "ansi": conf.get("spark.sql.ansi.enabled"),
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _layer_metrics(tracer, workload, traced, untraced) -> dict[str, float]:
    per_op: dict[int, dict[str, float]] = {}
    for entry in tracer.op_layers:
        acc = per_op.setdefault(entry["op"], {})
        for k, v in entry["layers"].items():
            acc[k] = acc.get(k, 0) + v
    # means, not medians: a layer a few requests touch (summaries,
    # expression compiles) would read 0 as a median
    keys = sorted({k for d in per_op.values() for k in d})
    out = {k: statistics.fmean(d.get(k, 0) for d in per_op.values()) for k in keys}
    for k in DETAIL_LAYER_UNITS:
        out.setdefault(k, 0)
    out["datapipe.checkpoints_live"] = max(workload.live_after_op, default=0)
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


def run(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir, exist_ok=True)
    nproc = _nproc()
    threads = min(nproc, MAX_THREADS)
    _isolate(work, threads)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import __spark_entry__ as entry
    from spans import Tracer
    from workloads import WORKLOADS

    from wrangler_spark import get_spark

    spark = None
    try:
        # set-up: session start, input preparation, engine warm-up; done
        # SETUPS times in this process (the first one launches the JVM)
        setup_times = []
        workload = None
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench", cpus=threads)
            workload = WORKLOADS[args.workload](
                spark, data_dir, args.seed, args.scale, None, entry)
            workload.prepare()
            _warm_engine(spark, workload.input_paths)
            setup_times.append(time.perf_counter() - t0)

        tracer = Tracer(spark)
        workload.tracer = tracer
        env = _environment(spark, args, nproc)
        print("perfbench env " + json.dumps(env), flush=True)

        t0 = time.perf_counter()
        workload.prime()
        prime_s = time.perf_counter() - t0

        # closed loop over whole units (one op, or one interactive session):
        # start another unit while a typical one still ends before the
        # deadline, and always run MIN_OPS ops
        results = []
        units: list[float] = []
        ticks0 = _cpu_ticks()
        start = time.perf_counter()
        deadline = start + args.seconds
        while len(results) < MIN_OPS or time.perf_counter() + statistics.median(units) <= deadline:
            t0 = time.perf_counter()
            for _ in range(workload.unit_ops):
                i = len(results)
                results.append(workload.run_op(i, traced=bool(args.trace) and workload.traced(i)))
            units.append(time.perf_counter() - t0)
        measured_s = time.perf_counter() - start
        ticks1 = _cpu_ticks()
        # share of CPU time the host gave to other guests while measuring:
        # a noisy neighbour shows here, not in the program
        steal_frac = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
        # peak memory of the loop, before the gate runs DuckDB in this process
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"python": _vm_hwm_kb("self") / 1024.0, "jvm": _vm_hwm_kb(jvm_pid) / 1024.0}

        tracer.uninstall()
        t0 = time.perf_counter()
        workload.gate(results)
        gate_s = time.perf_counter() - t0

        attempted = len(results)
        failed = sum(1 for r in results if not r.ok)
        walls = [r.wall_s for r in results]
        p50 = statistics.median(walls)
        e2e = {
            "setup_s": statistics.median(setup_times),
            "op_p50_s": p50,
            # the maximum: a 12 s run has 2 to ~25 samples, too few for any
            # percentile above the median to have 10 samples beyond it
            "op_tail_s": max(walls),
            "rows_per_s": workload.rows / p50,
            "peak_rss_mb": rss_mb["python"] + rss_mb["jvm"],
            "failed_frac": failed / attempted,
        }
        detail = {
            "metrics": {k: {"value": v, "unit": DETAIL_UNITS[k]} for k, v in e2e.items()},
            "op_tail_percentile": 100.0,
            "samples": attempted, "walls_s": [round(w, 4) for w in walls],
            "setup_samples_s": setup_times, "prime_s": prime_s, "peak_rss_split_mb": rss_mb,
            "measured_s": measured_s, "cpu_steal_frac": steal_frac, "gate_s": gate_s,
            "kinds": {k: sum(1 for r in results if r.kind == k) for k in {r.kind for r in results}},
            "checkpoints_live_after_ops": workload.live_after_op,
            "failures": workload.failures[:20],
        }
        print("perfbench e2e " + json.dumps(detail), flush=True)

        if args.trace:
            traced = [r.wall_s for i, r in enumerate(results) if workload.traced(i)]
            untraced = [r.wall_s for i, r in enumerate(results) if not workload.traced(i)]
            layers = _layer_metrics(tracer, workload, traced, untraced)
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            span_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
            tracer.write(span_path, {"env": env, "e2e": detail, "layers": layers})
            print("perfbench layers " + json.dumps({
                "metrics": {k: {"value": v, "unit": DETAIL_LAYER_UNITS.get(k, "s")}
                            for k, v in sorted(layers.items())},
                "traced_op_p50_s": statistics.median(traced),
                "untraced_op_p50_s": statistics.median(untraced),
                "spans": len(tracer.spans), "span_file": os.path.relpath(span_path, ROOT),
            }), flush=True)
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}

        for f in workload.failures:
            print(f"perfbench failure: {f}", file=sys.stderr)
        correct = failed == 0 and not workload.failures
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["recipe_batch", "recipe_interactive", "curation_pass"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "small"], default="full",
                    help="input tables; 'small' is the self-test's sf0.001 tables")
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "wrangler_spark/__init__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a wrangler_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
