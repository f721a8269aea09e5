"""The two ingest workloads.

``ingest_live`` (open loop): a generator process lands proto-encoded
files on a fixed schedule while ``start_ingest`` decodes them with
``wire_format_decoder``; latency is each file's freshness, from its
rename into the source dir to the sink commit of the batch that read it.

``ingest_drain`` (closed loop): ``ingest_once`` drains a fixed,
decode-free backlog of events files into event-time date dirs; each
drain is one operation.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import datagen
import logs
import stats
from tracing import ProgressCapture, listener_layers

HERE = os.path.dirname(os.path.abspath(__file__))

#: Offered load of ingest_live: about a seventh of what the same pipeline
#: drains at once over such files and a twelfth of the decoder alone on
#: 4 cores (``run.py --basis``, receipts/basis.json), so that a batch
#: ends well inside the 2 s trigger. When batches run back to back
#: (1 s trigger, or 3x the rate), queueing amplified machine noise and
#: freshness varied by a third between runs. The file period does not
#: divide the trigger, so landings fall on every phase of it.
LIVE = {
    "rows_per_s": 20_000,
    "period_s": 0.093,
    "min_files": 200,
    "warm_files": 10,
    "trigger_seconds": 2,
    "fields": datagen.WIRE_FIELDS,
}
#: ingest_drain backlog: ``copies`` links to one generated events file
DRAIN = {
    "rows": 100_000,
    "copies": 4,
    "warm_drains": 2,
    "min_drains": 5,
    "files_per_dir": 2,
    "pattern": "yyyy/MM/dd",
}
#: schema of the landed files: one proto message per row
WIRE_SCHEMA_DDL = "value binary"
#: longest wait for landed files to commit once the generator is done
COMMIT_WAIT_S = 60.0


def _sink_layers(target: str, rows: int, metrics) -> dict[str, float]:
    sizes = [s for _, s in logs.sink_files(target)]
    t0 = time.perf_counter()
    metrics.file_size_histogram()
    scan_s = time.perf_counter() - t0
    return {
        "ingest.files_committed": len(sizes),
        "ingest.file_bytes_p50": statistics.median(sizes) if sizes else 0,
        "ingest.bytes_per_row": sum(sizes) / rows if rows else 0,
        "ingest.metrics_scan_s": scan_s,
    }


def live_plan(seconds: float) -> dict:
    files = max(LIVE["min_files"], math.ceil(seconds / LIVE["period_s"]))
    return {"files": files, "rows_per_file": round(LIVE["rows_per_s"] * LIVE["period_s"])}


def prepare_live(seed: int, seconds: float, scratch) -> dict:
    """Encode the timed files and the warm-up files before any timing."""
    import numpy as np
    import pandas as pd

    plan = live_plan(seconds)
    rng = np.random.default_rng(seed)
    staged = os.path.join(scratch.data, "staged")
    warm = os.path.join(scratch.data, "warm")
    timed_rows = datagen.write_wire_files(
        rng, staged, "events", plan["files"], plan["rows_per_file"]
    )
    warm_rows = datagen.write_wire_files(
        rng, warm, "warm", LIVE["warm_files"], plan["rows_per_file"],
        first_id=len(timed_rows),
    )
    rows = pd.concat([timed_rows, warm_rows], ignore_index=True)
    return {
        **plan,
        "staged": staged,
        "warm": warm,
        "expected": logs.multiset_hash(rows, datagen.WIRE_COLUMNS),
    }


def _wait_committed(ckpt: str, target: str, landed: dict[str, float], query, timeout: float):
    """Poll the logs until every landed file is committed (or the query
    died, or ``timeout`` passed); returns the last join."""
    deadline = time.time() + timeout
    while True:
        batches = logs.source_batches(ckpt) if os.path.isdir(os.path.join(ckpt, "sources")) else {}
        commits = logs.sink_commits(target)
        fresh, missing, dup = logs.freshness(landed, batches, commits)
        if not missing or time.time() > deadline or query.exception():
            return batches, commits, fresh, missing, dup
        time.sleep(0.05)


def live_config(src: str, target: str, ckpt: str, trigger_seconds):
    """``IngestConfig`` defaults plus the wire decoder: processing-time
    ``yyyy/MM/dd`` dirs, snappy, dictionary encoding on."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from kafka_parquet_writer_spark.sources.decoders import wire_format_decoder
    from kafka_parquet_writer_spark.streaming.ingest import IngestConfig

    return IngestConfig(
        target_dir=target,
        checkpoint_dir=ckpt,
        source_format="file",
        source_path=src,
        source_schema=StructType([StructField("value", BinaryType())]),
        decoder=wire_format_decoder(datagen.WIRE_FIELDS),
        trigger_seconds=trigger_seconds,
    )


def run_live(spark, prep: dict, scratch, tracer, trace: bool, rss) -> dict:
    from kafka_parquet_writer_spark.streaming.ingest import IngestMetrics, start_ingest

    src = os.path.join(scratch.data, "src")
    target = os.path.join(scratch.data, "out")
    ckpt = os.path.join(scratch.data, "ckpt")
    os.makedirs(src)
    cfg = live_config(src, target, ckpt, LIVE["trigger_seconds"])
    capture = ProgressCapture(spark) if trace else None
    metrics = IngestMetrics(spark, target_dir=target)
    landed_json = os.path.join(scratch.data, "landed.json")
    failures: list[str] = []
    with tracer.span("streaming.ingest.start_ingest"):
        query = start_ingest(spark, cfg)
    gen = None
    try:
        # a new query's first batches are cold: land the warm-up files
        # and wait for their commit before the timed landings start
        warm_landed = {}
        with tracer.span("ingest.warm_up"):
            for name in sorted(os.listdir(prep["warm"])):
                dst = os.path.abspath(os.path.join(src, name))
                os.rename(os.path.join(prep["warm"], name), dst)
                warm_landed[dst] = time.time()
            *_, warm_missing, _ = _wait_committed(ckpt, target, warm_landed, query, COMMIT_WAIT_S)
        if warm_missing:
            raise RuntimeError(f"{len(warm_missing)} warm-up files never committed")
        if trace:
            capture.take()
        timed_from = time.time()
        start_at = timed_from + 0.5
        gen = subprocess.Popen([
            sys.executable, os.path.join(HERE, "loadgen.py"),
            "--staged", prep["staged"], "--src", src,
            "--period", str(LIVE["period_s"]),
            "--start-at", repr(start_at), "--out", landed_json,
        ])
        rss.exclude.add(gen.pid)
        with tracer.span("loadgen.run"):
            gen.wait(timeout=prep["files"] * LIVE["period_s"] + 60)
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited {gen.returncode}")
        with open(landed_json, encoding="utf-8") as f:
            landed_recs = json.load(f)
        landed = {os.path.abspath(r["path"]): r["landed"] for r in landed_recs}
        with tracer.span("ingest.wait_commit"):
            batches, commits, fresh, missing, dup = _wait_committed(
                ckpt, target, landed, query, COMMIT_WAIT_S
            )
        timed_to = time.time()
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
    if query.exception():
        failures.append(f"ingest query failed: {query.exception()}")
    failures += [f"never committed: {os.path.basename(p)}" for p in missing]
    failures += [f"read by several batches: {os.path.basename(p)}" for p in dup]

    with tracer.span("check.exactly_once"):
        got = logs.committed_hash(target, datagen.WIRE_COLUMNS)
    if got != prep["expected"]:
        failures.append(f"committed multiset {got} != generated {prep['expected']}")

    lat = sorted(fresh.values())
    tail_v, tail_label = stats.tail(lat)
    rows = prep["expected"][0]
    first = min(landed.values())
    last_commit = max(commits.values())
    e2e = {
        "latency_s": stats.quantile(lat, 0.5),
        "latency_tail_s": tail_v,
        "throughput_per_s": prep["files"] * prep["rows_per_file"] / (last_commit - first),
    }
    lags = [r["landed"] - r["due"] for r in landed_recs]
    if stats.quantile(lags, 0.95) > LIVE["period_s"]:
        # an open loop that fell behind its schedule offered less load
        print(f"WARNING: the load generator ran late (p95 {stats.quantile(lags, 0.95):.3f} s); "
              "this run is invalid, not slow")
    layers = {
        "loadgen.files": len(landed_recs),
        "loadgen.lag_p95_s": stats.quantile(lags, 0.95),
        "ingest.backlog_files_max": logs.backlog_max(landed, batches, commits),
        "freshness_p50_s": e2e["latency_s"],
        "freshness_tail_s": tail_v,
    }
    detail_batches = []
    if trace:
        events = capture.take()
        detail_batches = [
            (e["batchId"], e["numInputRows"], e["durationMs"].get("triggerExecution"))
            for e in events
        ]
        layers.update(listener_layers(events, "ingest"))
        capture.remove(spark)
        layers.update(_sink_layers(target, got[0], metrics))
        with tracer.span("sources.decoders.wire_format_decoder"):
            layers.update(decoder_pass(spark, src, WIRE_SCHEMA_DDL))
        layers["decoders.null_rows"] = logs.committed_nulls(target, "event_id")
    metrics.remove(spark)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": len(landed_recs) + 1,
        "failures": failures,
        "windows": [("timed", timed_from, timed_to)],
        "detail": {
            "files": len(landed_recs), "rows": rows,
            "tail_label": tail_label, "freshness_n": len(lat),
            "loadgen_lag_max_s": max(lags),
            "batches": detail_batches,
        },
    }


def decoder_pass(spark, src: str, schema) -> dict[str, float]:
    """The decoder alone over the landed files, to the noop sink."""
    from kafka_parquet_writer_spark.sources.decoders import wire_format_decoder

    rows = spark.read.schema(schema).parquet(src).count()
    df = wire_format_decoder(datagen.WIRE_FIELDS)(spark.read.schema(schema).parquet(src))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return {"decoders.rows_per_s": rows / dt}


def pipeline_pass(spark, src: str, scratch, tag: str) -> float:
    """rows/s of the live ingest configuration draining ``src`` at once
    (availableNow): the capacity the offered rate is set against."""
    from kafka_parquet_writer_spark.streaming.ingest import ingest_once

    target = os.path.join(scratch.data, f"cap-out-{tag}")
    ckpt = os.path.join(scratch.data, f"cap-ckpt-{tag}")
    rows = spark.read.schema(WIRE_SCHEMA_DDL).parquet(src).count()
    t0 = time.perf_counter()
    ingest_once(spark, live_config(src, target, ckpt, trigger_seconds=None))
    dt = time.perf_counter() - t0
    shutil.rmtree(target)
    shutil.rmtree(ckpt)
    return rows / dt


# --- ingest_drain ----------------------------------------------------------


def prepare_drain(seed: int, scratch) -> dict:
    import pyarrow.parquet as pq

    table = datagen.events_table(seed, DRAIN["rows"])
    path = os.path.join(scratch.data, "events.parquet")
    pq.write_table(table, path)
    backlog = os.path.join(scratch.data, "backlog")
    os.makedirs(backlog)
    for i in range(DRAIN["copies"]):
        os.symlink(path, os.path.join(backlog, f"events-{i:03d}.parquet"))
    one = logs.files_hash([path], table.column_names)
    return {
        "path": path,
        "backlog": backlog,
        "columns": table.column_names,
        "expected": (one[0] * DRAIN["copies"], one[1] * DRAIN["copies"] % (1 << 64)),
    }


def _drain_once(spark, prep: dict, scratch, i: int):
    from kafka_parquet_writer_spark.catalog import normalize_nanos
    from kafka_parquet_writer_spark.streaming.ingest import (
        IngestConfig,
        IngestMetrics,
        ingest_once,
    )

    target = os.path.join(scratch.data, f"out-{i}")
    ckpt = os.path.join(scratch.data, f"ckpt-{i}")
    cfg = IngestConfig(
        target_dir=target,
        checkpoint_dir=ckpt,
        source_format="file",
        source_path=prep["backlog"],
        source_schema=spark.read.parquet(prep["path"]).schema,
        decoder=normalize_nanos,
        trigger_seconds=None,
        directory_datetime_pattern=DRAIN["pattern"],
        partition_time_column="ts",
        files_per_dir=DRAIN["files_per_dir"],
    )
    metrics = IngestMetrics(spark, target_dir=target)
    try:
        t0 = time.perf_counter()
        ingest_once(spark, cfg)
        dt = time.perf_counter() - t0
    finally:
        metrics.remove(spark)
    return dt, target, ckpt, metrics


def _check_drain(prep: dict, target: str, ckpt: str) -> list[str]:
    bad = []
    got = logs.committed_hash(target, prep["columns"])
    if got != prep["expected"]:
        bad.append(f"committed multiset {got} != backlog {prep['expected']}")
    batches = logs.source_batches(ckpt)
    for name in sorted(os.listdir(prep["backlog"])):
        ids = batches.get(os.path.join(os.path.abspath(prep["backlog"]), name), set())
        if len(ids) != 1:
            bad.append(f"{name} read by {len(ids)} batches")
    return bad


def run_drain(spark, prep: dict, scratch, seconds: float, tracer, trace: bool) -> dict:
    capture = ProgressCapture(spark) if trace else None
    failures: list[str] = []
    attempted = 0
    first_s = []
    for i in range(DRAIN["warm_drains"]):
        with tracer.span("streaming.ingest.ingest_once", phase="warm"):
            dt, target, ckpt, _ = _drain_once(spark, prep, scratch, i)
        first_s.append(dt)
        shutil.rmtree(target)
        shutil.rmtree(ckpt)
    if trace:
        capture.take()
    times: list[float] = []
    windows: list[tuple[str, float, float]] = []
    layers: dict[str, float] = {}
    events: list[dict] = []
    began = time.perf_counter()
    i = DRAIN["warm_drains"]
    while len(times) < DRAIN["min_drains"] or time.perf_counter() - began < seconds:
        attempted += 1
        try:
            with tracer.span("streaming.ingest.ingest_once", phase="timed"):
                t0 = time.time()
                dt, target, ckpt, metrics = _drain_once(spark, prep, scratch, i)
                windows.append(("timed", t0, time.time()))
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            failures.append(f"drain {i} failed: {e}")
            i += 1
            continue
        times.append(dt)
        with tracer.span("check.exactly_once"):
            bad = _check_drain(prep, target, ckpt)
        failures += bad
        if trace:
            events += capture.take()
            layers = _sink_layers(target, prep["expected"][0], metrics)
        shutil.rmtree(target)
        shutil.rmtree(ckpt)
        i += 1
    rows = prep["expected"][0]
    tail_v, tail_label = stats.tail(times)
    e2e = {
        "latency_s": statistics.median(times),
        "latency_tail_s": tail_v,
        "throughput_per_s": rows * len(times) / sum(times),
    }
    layers["ingest.backlog_files_max"] = DRAIN["copies"]
    if trace:
        layers.update(listener_layers(events, "ingest"))
        capture.remove(spark)
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failures": failures,
        "windows": windows,
        "detail": {
            "drain_s": times, "warm_drains_s": first_s, "rows_per_drain": rows,
            "tail_label": tail_label,
        },
    }
