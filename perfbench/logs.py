"""Read a Structured Streaming file-source checkpoint and file-sink log.

Both logs are directories of batch files named ``N`` (or ``N.compact``
after compaction): a ``v1`` header line, then one JSON object per line.
Source entries carry ``path`` and ``batchId``; sink entries carry
``path``, ``size`` and ``action``. A sink batch's commit time is the
modification time of its log file, which the sink renames into place
as the batch's last step.

Also: the order-insensitive multiset hash used to check exactly-once
delivery, and the freshness join from landed files to commit times.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse

import pandas as pd


def _batch_files(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out.append((int(stem), os.path.join(log_dir, name)))
    return sorted(out)


def _entries(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError(f"{path}: not a streaming log file")
    return [json.loads(line) for line in lines[1:] if line.strip()]


def local_path(uri: str) -> str:
    """``file:///a/b%20c`` → ``/a/b c``; plain paths pass through."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


def source_batches(checkpoint_dir: str, source: int = 0) -> dict[str, set[int]]:
    """Landed file (absolute path) → every batch id that listed it.

    Compact files repeat the entries of earlier batches with their
    original ``batchId``, so a file read once maps to one batch id no
    matter how many log files mention it."""
    log_dir = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, set[int]] = {}
    for _, path in _batch_files(log_dir):
        for e in _entries(path):
            key = os.path.abspath(local_path(e["path"]))
            out.setdefault(key, set()).add(int(e["batchId"]))
    return out


def sink_commits(target_dir: str) -> dict[int, float]:
    """Sink batch id → commit time (mtime of its ``_spark_metadata`` file)."""
    log_dir = os.path.join(target_dir, "_spark_metadata")
    if not os.path.isdir(log_dir):
        return {}
    return {b: os.stat(p).st_mtime for b, p in _batch_files(log_dir)}


def sink_files(target_dir: str) -> list[tuple[str, int]]:
    """(local path, size) of every data file the sink log has committed."""
    log_dir = os.path.join(target_dir, "_spark_metadata")
    live: dict[str, int] = {}
    for _, path in _batch_files(log_dir):
        for e in _entries(path):
            p = local_path(e["path"])
            if e.get("action", "add") == "add":
                live[p] = int(e["size"])
            else:
                live.pop(p, None)
    return sorted(live.items())


def freshness(
    landed: dict[str, float],
    batches: dict[str, set[int]],
    commits: dict[int, float],
) -> tuple[dict[str, float], list[str], list[str]]:
    """Join landed files to the commit time of the batch that read them.

    ``landed`` maps a file's real path to the time it was renamed into
    the source dir. Returns (path → seconds from landing to commit,
    files never committed, files listed by more than one batch)."""
    fresh: dict[str, float] = {}
    missing: list[str] = []
    duplicated: list[str] = []
    for path, t_landed in landed.items():
        ids = batches.get(path, set())
        if len(ids) > 1:
            duplicated.append(path)
        committed = [commits[b] for b in ids if b in commits]
        if not committed:
            missing.append(path)
            continue
        fresh[path] = min(committed) - t_landed
    return fresh, sorted(missing), sorted(duplicated)


def backlog_max(
    landed: dict[str, float],
    batches: dict[str, set[int]],
    commits: dict[int, float],
) -> int:
    """Largest number of landed-but-uncommitted files seen at any commit."""
    first_batch = {p: min(ids) for p, ids in batches.items() if ids}
    worst = 0
    for b, t in commits.items():
        waiting = sum(
            1 for p, t_l in landed.items()
            if t_l <= t and first_batch.get(p, b + 1) > b
        )
        worst = max(worst, waiting)
    return worst


def _hash_query(relation: str, types: dict[str, str]) -> str:
    """Count and summed row hash over ``relation``. Each value is hashed
    in a canonical form, so a row hashes the same however it was stored:
    timestamps as epoch microseconds, everything else as its text."""
    parts = [
        f'epoch_us("{c}")' if t.upper().startswith("TIMESTAMP") else f'CAST("{c}" AS VARCHAR)'
        for c, t in types.items()
    ]
    return f"SELECT count(*), COALESCE(sum(hash({', '.join(parts)})), 0) FROM {relation}"


def _run_hash(con, relation: str, columns: list[str]) -> tuple[int, int]:
    cols = ", ".join(f'"{c}"' for c in columns)
    desc = con.execute(f"DESCRIBE SELECT {cols} FROM {relation}").fetchall()
    n, total = con.execute(_hash_query(relation, {r[0]: r[1] for r in desc})).fetchone()
    return int(n), int(total) % (1 << 64)


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def multiset_hash(df: pd.DataFrame, columns: list[str]) -> tuple[int, int]:
    """(row count, 64-bit sum of per-row hashes) of a pandas frame: equal
    for two inputs holding the same rows in any order."""
    con = _duckdb()
    try:
        con.register("frame", df[columns])
        return _run_hash(con, "frame", columns)
    finally:
        con.close()


def files_hash(paths: list[str], columns: list[str]) -> tuple[int, int]:
    """``multiset_hash`` of the rows of some parquet files."""
    if not paths:
        return 0, 0
    con = _duckdb()
    try:
        return _run_hash(con, f"read_parquet({paths!r})", columns)
    finally:
        con.close()


def committed_hash(target_dir: str, columns: list[str]) -> tuple[int, int]:
    """Multiset hash of every row the sink committed, read file by file
    through its log (never by listing the directory)."""
    return files_hash([p for p, _ in sink_files(target_dir)], columns)


def committed_nulls(target_dir: str, column: str) -> int:
    """Committed rows whose ``column`` is null (rows a decoder could not parse)."""
    paths = [p for p, _ in sink_files(target_dir)]
    if not paths:
        return 0
    con = _duckdb()
    try:
        return con.execute(
            f'SELECT count(*) FROM read_parquet({paths!r}) WHERE "{column}" IS NULL'
        ).fetchone()[0]
    finally:
        con.close()
