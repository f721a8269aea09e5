"""The ``query_mix`` workload: a fixed key set through ``registry.QUERIES``.

Every key runs once cold (its first execution in the session, collected
and checked against its DuckDB oracle), then in warm passes to the noop
sink for about the run's time. The seed orders the keys in each
pass and permutes the rows of every input table. No cache is cleared
between keys, so each key runs as a user would run it.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import stats
from tracing import ProgressCapture, cached_bytes, listener_layers

#: the fixed key set, by family; the relational family is the control
#: that operator changes elsewhere should leave flat
KEYS = {
    "relational": ["tpch_q3", "window_rank", "agg_theta_sketch"],
    "llm": ["dedup_ngram_jaccard", "rag_topk_retrieval_wand"],
    "stream": ["stream_stateful_count"],
}
ALL_KEYS = [k for family in KEYS.values() for k in family]
FAMILY = {k: f for f, ks in KEYS.items() for k in ks}
#: a warm pass over the key set takes about this long on 4 cores; a run
#: makes ``seconds / WARM_PASS_S`` passes (at least one), a count fixed
#: by ``--seconds`` alone so that machine speed cannot change it
WARM_PASS_S = 7.0
DEFINITION = {"keys": KEYS, "fixture": "sf0.01", "warm_pass_s": WARM_PASS_S}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if type(v).__name__ == "Decimal":
        return float(v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Rows with columns in name order and rows in a fixed order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def oracle_mismatch(s_cols, s_rows, d_cols, d_rows) -> str | None:
    """Why Spark's result differs from the oracle's, or None if equal.
    Values must match exactly, as an order-insensitive value hash would."""
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows != oracle {len(d_rows)}"
    ns, nd = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
    diff = [(a, b) for a, b in zip(ns, nd) if a != b]
    if diff:
        return f"{len(diff)} rows differ, first {diff[0][0]} vs {diff[0][1]}"
    return None


def _oracle_db(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            table = name[: -len(".parquet")]
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_query_mix(spark, data_dir: str, seed: int, seconds: float, tracer, trace: bool) -> dict:
    from kafka_parquet_writer_spark.registry import ORACLES, QUERIES, load_all_operators

    load_all_operators()
    rng = random.Random(seed)
    con = _oracle_db(data_dir)
    capture = ProgressCapture(spark) if trace else None
    windows: list[tuple[str, float, float]] = []
    stream_events: list[dict] = []
    cached_after = 0
    failures: list[str] = []
    attempted = 0

    def after_key(key: str, started: float) -> None:
        nonlocal cached_after
        windows.append((FAMILY[key], started, time.time()))
        if not trace:
            return
        if FAMILY[key] == "stream":
            stream_events.extend(capture.take())
        cached_after = max(cached_after, cached_bytes(spark))

    first: dict[str, float] = {}
    for key in rng.sample(ALL_KEYS, len(ALL_KEYS)):
        attempted += 1
        started = time.time()
        try:
            with tracer.span("registry.QUERIES", key=key, phase="first"):
                t0 = time.perf_counter()
                df = QUERIES[key](spark, data_dir)
                rows = [tuple(r) for r in df.collect()]
                first[key] = time.perf_counter() - t0
            cols = df.columns
        except Exception as e:  # noqa: BLE001 — a failing key is reported by name
            failures.append(f"{key}: raised {type(e).__name__}: {e}"[:500])
            continue
        finally:
            after_key(key, started)
        if key in ORACLES:
            with tracer.span("check.oracle", key=key):
                res = con.execute(ORACLES[key])
                why = oracle_mismatch(
                    cols, rows, [d[0] for d in res.description], res.fetchall()
                )
            if why:
                failures.append(f"{key}: {why}"[:500])
    con.close()

    ok = [k for k in ALL_KEYS if k in first and not any(f.startswith(k + ":") for f in failures)]
    build: dict[str, list[float]] = {k: [] for k in ok}
    total: dict[str, list[float]] = {k: [] for k in ok}
    warm_s = 0.0
    passes = max(1, round(seconds / WARM_PASS_S))
    for _ in range(passes if ok else 0):
        for key in rng.sample(ok, len(ok)):
            attempted += 1
            started = time.time()
            try:
                with tracer.span("registry.QUERIES", key=key, phase="warm"):
                    t0 = time.perf_counter()
                    with tracer.span("query.build", key=key):
                        df = QUERIES[key](spark, data_dir)
                    t1 = time.perf_counter()
                    with tracer.span("query.exec", key=key):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                failures.append(f"{key}: warm run raised {type(e).__name__}: {e}"[:500])
                continue
            finally:
                after_key(key, started)
            build[key].append(t1 - t0)
            total[key].append(t2 - t0)
            warm_s += t2 - t0

    med = {k: statistics.median(v) for k, v in total.items() if v}
    e2e = {
        "latency_s": stats.geomean(list(med.values())),
        # each key is its own population of a few runs: the slow end is
        # each key's slowest warm run, summarised over keys like the median
        "latency_tail_s": stats.geomean([max(v) for v in total.values() if v]),
        "throughput_per_s": sum(len(v) for v in total.values()) / warm_s,
    }
    batch = [med[k] for k in med if FAMILY[k] != "stream"]
    streams = [med[k] for k in med if FAMILY[k] == "stream"]
    layers = {
        "query.geomean_s": stats.geomean(batch) if batch else 0,
        "query.stream_geomean_s": stats.geomean(streams) if streams else 0,
        "query.first_geomean_s": stats.geomean(list(first.values())) if first else 0,
    }
    for k in med:
        layers[f"query.{k}.build_s"] = statistics.median(build[k])
        layers[f"query.{k}.exec_s"] = statistics.median(
            t - b for t, b in zip(total[k], build[k])
        )
    if trace:
        capture.remove(spark)
        layers.update(listener_layers(stream_events, "stream"))
        layers["storage.cached_bytes_after"] = cached_after
    return {
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failures": failures,
        "windows": windows,
        "detail": {
            "passes": passes, "first_s": first, "warm_s": total,
        },
    }
