"""Seeded inputs: proto-wire-encoded event files, an events table, and a
row-permuted copy of the bundled fixture tables."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
USERS = 1500
_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)

#: proto field map of the live-ingest message: column → (field number, type)
WIRE_FIELDS = {
    "event_id": (1, "long"),
    "user_id": (2, "long"),
    "event_type": (3, "string"),
    "value": (4, "double"),
    "query": (5, "string"),
}
WIRE_COLUMNS = list(WIRE_FIELDS)
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def _strings(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    codes = _ALPHABET[rng.integers(0, len(_ALPHABET), size=(n, width))]
    return np.array([bytes(r).decode() for r in codes], dtype=object)


def wire_rows(rng: np.random.Generator, first_id: int, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(0, USERS, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.gamma(2.0, 20.0, n), 2),
        "query": _strings(rng, n, 24),
    })


def write_wire_files(
    rng: np.random.Generator, out_dir: str, prefix: str, files: int,
    rows_per_file: int, first_id: int = 0,
) -> pd.DataFrame:
    """Write ``files`` parquet files of one ``value`` (binary) column, each
    row a proto message encoded with the engine's ``encode_wire_format``.
    Returns the decoded rows they hold, for the exactly-once check."""
    from kafka_parquet_writer_spark.sources.decoders import encode_wire_format

    os.makedirs(out_dir, exist_ok=True)
    frames = []
    nums = {c: f for c, (f, _) in WIRE_FIELDS.items()}
    for i in range(files):
        df = wire_rows(rng, first_id + i * rows_per_file, rows_per_file)
        values = [
            encode_wire_format({nums[c]: v for c, v in zip(WIRE_COLUMNS, row)})
            for row in zip(*(df[c].tolist() for c in WIRE_COLUMNS))
        ]
        pq.write_table(
            pa.table({"value": pa.array(values, pa.binary())}),
            os.path.join(out_dir, f"{prefix}-{i:05d}.parquet"),
        )
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def events_table(seed: int, rows: int) -> pa.Table:
    """An events table shaped like the fixture's (30 days of event time)."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, rows)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, rows, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)]),
        "value": pa.array(np.round(rng.gamma(2.0, 20.0, rows), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def permuted_fixture(seed: int, out_dir: str) -> str:
    """Copy every bundled fixture table with its rows in a seeded order,
    so the seed changes file layout and partition contents, never the
    multiset of rows the oracles see."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name in sorted(os.listdir(FIXTURE_DIR)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(FIXTURE_DIR, name))
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t.replace_schema_metadata(None), os.path.join(out_dir, name))
    return out_dir
