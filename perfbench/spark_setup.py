"""Session set-up, warm-up and teardown shared by every workload."""

from __future__ import annotations

import os
import statistics
import time

#: rows in the warm-up job; enough to run every core, small enough to be quick
WARMUP_ROWS = 20_000
#: set-ups per run; setup_s reports their median
SETUPS = 3
#: driver heap for the benchmark's local session, unless the caller set one
DRIVER_MEM = "2g"


def warm_up(spark) -> None:
    """One small shuffle aggregation: the session has run a job. Python
    workers fork later, in each workload's own warm-up."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(WARMUP_ROWS)
        .groupBy((F.col("id") % (4 * n)).alias("k"))
        .agg(F.sum("id"))
        .write.format("noop").mode("overwrite").save()
    )


def session_conf(scratch, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": scratch.java_options(),
    }
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(scratch.eventlog))
    return conf


def open_session(scratch, trace: bool, tracer):
    """Set up ``SETUPS`` times (each ``get_spark`` plus ``warm_up``; all
    but the last are stopped again) and return the live session with
    the per-set-up timings."""
    from kafka_parquet_writer_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = session_conf(scratch, trace)
    get_s, warm_s, total_s = [], [], []
    spark = None
    for i in range(SETUPS):
        with tracer.span("setup", attempt=i):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            with tracer.span("session.warm_up"):
                warm_up(spark)
            t2 = time.perf_counter()
        get_s.append(t1 - t0)
        warm_s.append(t2 - t1)
        total_s.append(t2 - t0)
        if i < SETUPS - 1:
            spark.stop()
    info = {
        "setup_s": statistics.median(total_s),
        "get_spark_s": statistics.median(get_s),
        "warmup_s": statistics.median(warm_s),
        "setups_s": total_s,
    }
    return spark, info


def close_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a stuck JVM is killed, never left behind
            proc.kill()
            proc.wait(timeout=30)
