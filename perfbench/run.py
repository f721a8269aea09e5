"""Benchmark entry point: run one workload with one seed.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 14 --trace 0

Workloads: ``ingest_live`` and ``query_mix`` (gated in BENCHMARK.json)
and ``ingest_drain`` (see perfbench/README.md). With ``--trace 0`` the last stdout line is a JSON
object with the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics instead, spans go to ``perfbench/.results/`` and a
tracing-overhead line compares the run with earlier untraced ones.
Exits non-zero when any output fails its correctness check.

    python3 perfbench/run.py --compare A.json B.json   # refuses unlike stamps
    python3 perfbench/run.py --spread ingest_live      # quartile spread of results
    python3 perfbench/run.py --basis                   # offered-rate receipt
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, ".results")
BASIS = os.path.join(HERE, "receipts", "basis.json")

#: gated workloads (BENCHMARK.json); ingest_drain also runs, ungated: it
#: is the local[1] reference in the basis receipt, and with it the gated
#: set (about 22 runs per workload) would not finish within an hour on
#: 4 cores
WORKLOADS = ("ingest_live", "query_mix")
ALL_WORKLOADS = (*WORKLOADS, "ingest_drain")

#: end-to-end metrics: name → (unit, better); every workload reports each
E2E = {
    "setup_s": ("s", "lower"),
    "latency_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
}
_STAGE = {
    "stage.count": "count", "stage.task_s": "s", "stage.cpu_s": "s",
    "stage.wait_s": "s", "stage.gc_s": "s", "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "spill.disk_bytes": "bytes",
    "input.bytes": "bytes", "task.failed": "count",
}
#: per-layer metrics where more is better (all others: less is better)
_HIGHER = {
    "decoders.rows_per_s", "traced.throughput_per_s",
    "ingest.batches", "ingest.file_bytes_p50", "loadgen.files",
}


def per_layer() -> dict[str, tuple[str, str]]:
    """Per-layer metrics: name → (unit, better). A layer a workload never
    calls reports 0 there."""
    from wl_query import ALL_KEYS, KEYS

    units = {
        "session.get_spark_s": "s", "session.warmup_s": "s",
        "rss.peak_mb": "MB",
        "decoders.rows_per_s": "1/s", "decoders.null_rows": "count",
        "ingest.batches": "count", "ingest.rows_per_batch": "count",
        "ingest.latest_offset_s": "s", "ingest.get_batch_s": "s",
        "ingest.query_planning_s": "s", "ingest.add_batch_s": "s",
        "ingest.wal_commit_s": "s", "ingest.commit_offsets_s": "s",
        "ingest.backlog_files_max": "count", "ingest.files_committed": "count",
        "ingest.file_bytes_p50": "bytes", "ingest.bytes_per_row": "bytes",
        "ingest.metrics_scan_s": "s",
        "freshness_p50_s": "s", "freshness_tail_s": "s",
        "query.geomean_s": "s", "query.stream_geomean_s": "s",
        "query.first_geomean_s": "s",
    }
    for k in ALL_KEYS:
        units[f"query.{k}.build_s"] = "s"
        units[f"query.{k}.exec_s"] = "s"
    units.update({
        "stream.batches": "count", "stream.add_batch_s": "s",
        "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
        "stream.state_rows": "count", "stream.state_bytes": "bytes",
        "stream.state_commit_s": "s",
    })
    units.update(_STAGE)
    for fam in KEYS:
        units.update({f"{k}.{fam}": u for k, u in _STAGE.items()})
    units.update({
        "storage.cached_bytes_after": "bytes",
        "loadgen.lag_p95_s": "s", "loadgen.files": "count",
        "traced.latency_s": "s", "traced.throughput_per_s": "1/s",
    })
    return {k: (u, "higher" if k in _HIGHER else "lower") for k, u in units.items()}


def stage_layers(by_label: dict[str, dict[str, float]]) -> dict[str, float]:
    """Per-layer stage metrics: totals over every window, plus one set
    per query family where the windows carry family labels."""
    from tracing import add_stages
    from wl_query import KEYS

    def named(counts: dict[str, float], suffix: str) -> dict[str, float]:
        return {(k if "." in k else f"stage.{k}") + suffix: v for k, v in counts.items()}

    whole: dict[str, float] = {}
    out: dict[str, float] = {}
    for label, counts in by_label.items():
        add_stages(whole, counts)
        if label in KEYS:
            out.update(named(counts, f".{label}"))
    out.update(named(whole, ""))
    return out


def definition(workload: str, seconds: float) -> dict:
    import wl_ingest
    import wl_query

    if workload == "ingest_live":
        spec = {"live": wl_ingest.LIVE, "plan": wl_ingest.live_plan(seconds)}
    elif workload == "ingest_drain":
        spec = {"drain": wl_ingest.DRAIN}
    else:
        spec = wl_query.DEFINITION
    return {**spec, "seconds": seconds}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import datagen
    import env
    import spark_setup
    import wl_ingest
    import wl_query
    from tracing import RssSampler, Tracer, stage_counts

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    scratch = env.Scratch(workload)
    try:
        stamp = env.stamp(workload, seed, definition(workload, seconds), trace)
        stamp["tmp_entries_at_start"] = scratch.tmp_entries_at_start
        tracer = Tracer(trace)
        with tracer.span("prepare"):
            if workload == "ingest_live":
                prep = wl_ingest.prepare_live(seed, seconds, scratch)
            elif workload == "ingest_drain":
                prep = wl_ingest.prepare_drain(seed, scratch)
            else:
                prep = datagen.permuted_fixture(seed, os.path.join(scratch.data, "tables"))
        with RssSampler() as rss:
            spark, setup = spark_setup.open_session(scratch, trace, tracer)
            try:
                with tracer.span("workload", name=workload):
                    if workload == "ingest_live":
                        res = wl_ingest.run_live(spark, prep, scratch, tracer, trace, rss)
                    elif workload == "ingest_drain":
                        res = wl_ingest.run_drain(spark, prep, scratch, seconds, tracer, trace)
                    else:
                        res = wl_query.run_query_mix(spark, prep, seed, seconds, tracer, trace)
            finally:
                spark_setup.close_session(spark)
        stamp["loadavg_end"] = os.getloadavg()
        stamp["cpu_steal_share"] = env.steal_share(stamp.pop("cpu_times_start"), env.cpu_times())
        if trace:
            res["layers"].update(stage_layers(stage_counts(scratch.eventlog, res["windows"])))
        e2e = {"setup_s": setup["setup_s"], **res["e2e"]}
        layers = dict.fromkeys(per_layer(), 0)
        layers.update({
            "session.get_spark_s": setup["get_spark_s"],
            "session.warmup_s": setup["warmup_s"],
            "rss.peak_mb": rss.peak / 2**20,
            "traced.latency_s": e2e["latency_s"],
            "traced.throughput_per_s": e2e["throughput_per_s"],
        })
        layers.update({k: v for k, v in res["layers"].items() if k in layers})
        record = {
            "stamp": stamp,
            "e2e": e2e,
            "layers": layers if trace else None,
            "attempted": res["attempted"],
            "failures": res["failures"],
            "setups_s": setup["setups_s"],
            "rss_peak_mb": rss.peak / 2**20,
            "detail": res["detail"],
        }
        os.makedirs(RESULTS, exist_ok=True)
        base = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{int(trace)}-{int(time.time() * 1000)}")
        with open(base + ".json", "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1, default=str)
        if trace:
            tracer.write(base + ".spans.jsonl")
        return record
    finally:
        scratch.close()


def overhead_line(record: dict) -> str:
    """Traced end-to-end numbers against the median of earlier untraced
    runs of the same workload with a comparable stamp."""
    import env

    w = record["stamp"]["workload"]
    base = []
    for path in glob.glob(os.path.join(RESULTS, f"{w}-seed*-trace0-*.json")):
        with open(path, encoding="utf-8") as f:
            other = json.load(f)
        if env.refuse_reason(record["stamp"], other["stamp"]) is None and not other["failures"]:
            base.append(other["e2e"])
    if not base:
        return f"tracing overhead {w}: no comparable untraced run in {RESULTS}"
    parts = []
    for m in ("latency_s", "throughput_per_s", "setup_s"):
        ref = statistics.median(b[m] for b in base)
        parts.append(f"{m} {record['e2e'][m]:.4g} vs {ref:.4g} ({record['e2e'][m] / ref - 1:+.1%})")
    return f"tracing overhead {w} (traced vs median of {len(base)} untraced): " + "; ".join(parts)


def compare(a_path: str, b_path: str) -> int:
    import env

    with open(a_path, encoding="utf-8") as f:
        a = json.load(f)
    with open(b_path, encoding="utf-8") as f:
        b = json.load(f)
    why = env.refuse_reason(a["stamp"], b["stamp"])
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    for m, (unit, _) in E2E.items():
        print(f"{m}: {a['e2e'][m]:.6g} -> {b['e2e'][m]:.6g} {unit} ({b['e2e'][m] / a['e2e'][m] - 1:+.1%})")
    return 0


def spread(workload: str) -> int:
    """Median and quartile spread (as a share of the median) of every
    end-to-end metric over this checkout's untraced, passing results of
    ``workload`` that share the newest result's stamp."""
    import env
    import stats

    records = []
    for path in glob.glob(os.path.join(RESULTS, f"{workload}-seed*-trace0-*.json")):
        with open(path, encoding="utf-8") as f:
            records.append(json.load(f))
    records = [r for r in records if not r["failures"]]
    if len(records) < 2:
        print(f"need at least 2 passing untraced {workload} results", file=sys.stderr)
        return 2
    newest = max(records, key=lambda r: r["stamp"]["started_at"])["stamp"]
    records = [r for r in records if env.refuse_reason(newest, r["stamp"]) is None]
    for m, (unit, _) in E2E.items():
        values = [r["e2e"][m] for r in records]
        print(f"{m}: median {statistics.median(values):.6g} {unit}, "
              f"quartile spread {stats.iqr_share(values):.3f} over {len(values)} runs")
    return 0


def basis() -> int:
    """Record the ungated reference numbers: decode capacity at
    local[nproc] (which fixes ingest_live's offered rate) and local[1],
    and a local[1] run of ingest_drain."""
    nproc = os.cpu_count()
    out = {"nproc": nproc, "measured_at": time.time()}
    for cpus in (nproc, 1):
        envs = {**os.environ, "SPARK_GRAFT_CPUS": str(cpus)}
        p = subprocess.run(
            [sys.executable, __file__, "--decode-capacity"],
            env=envs, capture_output=True, text=True, timeout=900, check=True,
        )
        out[f"decode_local{cpus}"] = json.loads(p.stdout.strip().splitlines()[-1])
    p = subprocess.run(
        [sys.executable, __file__, "--workload", "ingest_drain", "--seed", "1",
         "--seconds", "10", "--trace", "0"],
        env={**os.environ, "SPARK_GRAFT_CPUS": "1"},
        capture_output=True, text=True, timeout=900,
    )
    out["ingest_drain_local1"] = json.loads(p.stdout.strip().splitlines()[-1])
    os.makedirs(os.path.dirname(BASIS), exist_ok=True)
    with open(BASIS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0


def decode_capacity(passes: int = 3) -> int:
    """rows/s of the decoder alone (noop sink) and of the whole live
    ingest configuration drained at once, over one live run's generated
    files: the median of ``passes`` warm passes after one cold pass."""
    import env
    import spark_setup
    import wl_ingest
    from tracing import Tracer

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    scratch = env.Scratch("decode")
    try:
        prep = wl_ingest.prepare_live(0, 10, scratch)
        spark, _ = spark_setup.open_session(scratch, False, Tracer(False))
        try:
            src, ddl = prep["staged"], wl_ingest.WIRE_SCHEMA_DDL
            decode = [
                wl_ingest.decoder_pass(spark, src, ddl)["decoders.rows_per_s"]
                for _ in range(passes + 1)
            ][1:]
            pipeline = [
                wl_ingest.pipeline_pass(spark, src, scratch, str(i))
                for i in range(passes + 1)
            ][1:]
        finally:
            spark_setup.close_session(spark)
    finally:
        scratch.close()
    print(json.dumps({
        "cpus": os.environ["SPARK_GRAFT_CPUS"], "rows": prep["expected"][0],
        "files": prep["files"],
        "decoder_rows_per_s": decode, "pipeline_rows_per_s": pipeline,
        "decoder_rows_per_s_median": statistics.median(decode),
        "pipeline_rows_per_s_median": statistics.median(pipeline),
    }))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=ALL_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar="RESULT")
    ap.add_argument("--spread", choices=ALL_WORKLOADS)
    ap.add_argument("--basis", action="store_true")
    ap.add_argument("--decode-capacity", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_parquet_writer_spark")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers unpickle functions by module path: let them import
    # the engine and this directory's modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if args.compare:
        return compare(*args.compare)
    if args.spread:
        return spread(args.spread)
    if args.basis:
        return basis()
    if args.decode_capacity:
        return decode_capacity()
    if not args.workload:
        ap.error("--workload is required")

    record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    failures = record["failures"]
    for f in failures:
        print(f"FAILED {f}")
    if args.trace:
        shown = {k: (record["layers"][k], u) for k, (u, _) in per_layer().items()}
        print(overhead_line(record))
    else:
        shown = {k: (record["e2e"][k], u) for k, (u, _) in E2E.items()}
    for k, (v, u) in shown.items():
        print(f"{k}: {v:.6g} {u}")
    print(json.dumps({
        "correct": not failures,
        "attempted": record["attempted"],
        "failed": min(len(failures), record["attempted"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
