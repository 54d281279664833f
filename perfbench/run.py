#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload cli_alter --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench/<workload>/`` in the checkout; nothing is read or
written outside it. Spark runs on ``local[<cpus>]`` in this process.

A run sets up ``SETUPS`` times (a fresh SparkContext plus freshly
generated inputs each time; the first set-up also launches the JVM),
runs the workload's operation ``warmups`` times untimed (none for the
CLI, whose users pay a cold JVM on every invocation; two for the
queries, which run in a long-lived session), then times it and, unless
the workload's op only runs cold, repeats it until ``--seconds`` have
passed. ``run_s`` is the median. Outputs are checked
after every operation, warm-up included, outside the timed region. The
last stdout line is the result JSON: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a run whose one
timed operation is wrapped in spans (spans are written to
``.perfbench/<workload>/spans.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def spark_cpus() -> int:
    """Half the cores this process may use: Spark's task threads and the
    JVM's JIT and GC threads share them, and the other half is left to
    the Python driver, its Arrow transfers, the Python workers and the
    host. A run that keeps every core busy measures the OS scheduler as
    much as the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _spark_env(work: str) -> None:
    """Keep every file Spark writes inside the checkout; must run before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [
            # HotSpot writes its perf-counter file under /tmp whatever the tmpdir
            "-XX:-UsePerfData",
            # size JIT and GC thread pools for the cores Spark gets
            f"-XX:ActiveProcessorCount={spark_cpus()}",
        ]
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # keep every job of a traced run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()
    ) + " pyspark-shell"


def _jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "easy_alterator_spark")):
        _fail(f"no easy_alterator_spark package under {ROOT}: run from a full checkout")
    bench_doc = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in {w["name"] for w in bench_doc["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")
    work = os.path.join(ROOT, ".perfbench", args.workload)
    sys.path[:0] = [ROOT, HERE]
    import workloads

    wl = workloads.make(args.workload, work, args.seed)
    _spark_env(work)

    from easy_alterator_spark.session import get_spark

    # --- set-up, SETUPS times; the median is setup_s -------------------
    setups, spark = [], None
    get_spark_s = 0.0
    for k in range(SETUPS):
        if spark is not None:
            # untimed: stopping waits up to 0.5 s for PySpark's
            # accumulator server to notice its shutdown
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        if k == 0:
            get_spark_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark, k)
        setups.append(time.perf_counter() - t0)

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)

    # --- warm-up, then timed operations ---------------------------------
    op_times, fails, attempted, failed = [], [], 0, 0

    def one_op(timed: bool) -> None:
        nonlocal attempted, failed
        t0 = time.perf_counter()
        if tracer is not None and timed:
            try:
                with tracer.span("op"):
                    wl.op(spark, tracer)
            finally:
                tracer.unpatch()
        else:
            wl.op(spark)
        if timed:
            op_times.append(time.perf_counter() - t0)
        f, n = wl.check(spark)
        fails.extend(f)
        attempted += wl.attempted()
        failed += n

    try:
        for _ in range(wl.warmups):
            one_op(timed=False)
        if tracer is not None:
            # patched after any warm-up, so only the timed op is counted
            tracer.count_gets(
                "easy_alterator_spark.sources.tables", "_SCHEMA_CACHE", "trace.schema_cache"
            )
            wl.trace_patches(tracer)
            one_op(timed=True)
        else:
            deadline = time.perf_counter() + args.seconds
            while True:
                one_op(timed=True)
                if not wl.repeat or time.perf_counter() >= deadline:
                    break
    except Exception as exc:  # noqa: BLE001 — an op that raises is a failed op
        import traceback

        traceback.print_exc()
        fails.append(f"op raised {exc!r}")
        attempted += wl.attempted()
        failed += wl.attempted()

    for msg in fails:
        print(f"perfbench: CHECK FAILED {msg}", file=sys.stderr)
    print(f"perfbench: setups {setups} ops {op_times}", file=sys.stderr)

    if not op_times:
        _stop(spark)
        _fail("the operation raised; nothing was measured")
    if tracer is None:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "run_s": (statistics.median(op_times), "s"),
        }
    else:
        metrics = trace_metrics(wl, tracer, spark, op_times, get_spark_s, bench_doc, work)
    _stop(spark)
    out = {
        "correct": not fails,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0


def trace_metrics(wl, tracer, spark, op_times, get_spark_s, bench_doc, work):
    import bench  # the repository's calibration probes

    tracer.attribute_jobs()
    layer = wl.layer_metrics(tracer, spark)
    layer["trace.op_s"] = op_times[0]
    layer["trace.span_self_sum_s"] = sum(t["self_s"] for t in tracer.totals().values())
    layer["trace.overhead_s"] = tracer.overhead_s
    layer["trace.schema_cache_hits"] = tracer.counters.get("trace.schema_cache_hits", 0)
    layer["session.get_spark_s"] = get_spark_s
    layer["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    layer["context.cpus"] = len(os.sched_getaffinity(0))
    layer["context.default_parallelism"] = spark.sparkContext.defaultParallelism
    layer["context.host_calibration_s"] = bench._host_calibration(spark)
    layer["context.shuffle_calibration_s"] = bench._shuffle_calibration(spark)
    tracer.dump(os.path.join(work, "spans.json"))
    names = [m["name"] for m in bench_doc["per_layer"]]
    units = {m["name"]: m["unit"] for m in bench_doc["per_layer"]}
    unknown = sorted(set(layer) - set(names))
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    # layers the workload does not run read 0
    return {n: (float(layer.get(n, 0)), units[n]) for n in names}


if __name__ == "__main__":
    raise SystemExit(main())
