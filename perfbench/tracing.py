"""Measurement plumbing kept outside the engine: spans around layer
calls, streaming progress from a listener, Spark stage counts from the
event log, and peak resident memory from ``/proc``."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """Spans (name, start, end, parent) held in memory and written once.

    When disabled, ``span`` records nothing and costs one generator."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, /, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class ProgressCapture:
    """Every ``StreamingQueryProgress`` of the session, as parsed JSON."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self._progress = []
        lock = self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                parsed = json.loads(event.progress.json)
                with lock:
                    progress.append(parsed)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def take(self) -> list[dict]:
        """Progress events since the last call (the listener appends from
        the callback thread, hence the lock)."""
        with self._lock:
            out = list(self._progress)
            self._progress.clear()
        return out

    def remove(self, spark) -> None:
        spark.streams.removeListener(self._listener)


def progress_layers(events: list[dict]) -> dict[str, float]:
    """Sum the per-batch duration parts and state sizes of ``events``
    (batches that read no rows are skipped: they are idle polls)."""
    out = {
        "batches": 0, "rows": 0,
        "latest_offset_s": 0.0, "get_batch_s": 0.0,
        "query_planning_s": 0.0, "add_batch_s": 0.0,
        "wal_commit_s": 0.0, "commit_offsets_s": 0.0,
        "state_rows": 0, "state_bytes": 0, "state_commit_s": 0.0,
    }
    parts = {
        "latestOffset": "latest_offset_s", "getBatch": "get_batch_s",
        "queryPlanning": "query_planning_s", "addBatch": "add_batch_s",
        "walCommit": "wal_commit_s", "commitOffsets": "commit_offsets_s",
    }
    for ev in events:
        if not ev.get("numInputRows"):
            continue
        out["batches"] += 1
        out["rows"] += ev["numInputRows"]
        for k, name in parts.items():
            out[name] += ev.get("durationMs", {}).get(k, 0) / 1000
        for op in ev.get("stateOperators") or []:
            out["state_commit_s"] += op.get("commitTimeMs", 0) / 1000
    # state size is a level, not a flow: take the last batch's
    for ev in reversed(events):
        ops = ev.get("stateOperators") or []
        if ops:
            out["state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
            out["state_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in ops)
            break
    return out


def listener_layers(events: list[dict], prefix: str) -> dict[str, float]:
    """Per-layer names for the progress of ``events``: ``ingest.*`` for
    the ingest query, ``stream.*`` (with state sizes) for stream keys."""
    p = progress_layers(events)
    out = {
        f"{prefix}.batches": p["batches"],
        f"{prefix}.add_batch_s": p["add_batch_s"],
        f"{prefix}.query_planning_s": p["query_planning_s"],
        f"{prefix}.wal_commit_s": p["wal_commit_s"],
    }
    if prefix == "ingest":
        out.update({
            "ingest.rows_per_batch": p["rows"] / p["batches"] if p["batches"] else 0,
            "ingest.latest_offset_s": p["latest_offset_s"],
            "ingest.get_batch_s": p["get_batch_s"],
            "ingest.commit_offsets_s": p["commit_offsets_s"],
        })
    else:
        out.update({
            "stream.state_rows": p["state_rows"],
            "stream.state_bytes": p["state_bytes"],
            "stream.state_commit_s": p["state_commit_s"],
        })
    return out


#: stage accumulables (event log) summed into per-layer counts: name →
#: (accumulable names, scale to the reported unit)
_STAGE_FIELDS = {
    "task_s": (("internal.metrics.executorRunTime",), 1e-3),
    "cpu_s": (("internal.metrics.executorCpuTime",), 1e-9),
    "gc_s": (("internal.metrics.jvmGCTime",), 1e-3),
    "shuffle.read_bytes": (
        ("internal.metrics.shuffle.read.localBytesRead",
         "internal.metrics.shuffle.read.remoteBytesRead"), 1,
    ),
    "shuffle.write_bytes": (("internal.metrics.shuffle.write.bytesWritten",), 1),
    "spill.disk_bytes": (("internal.metrics.diskBytesSpilled",), 1),
    "input.bytes": (("internal.metrics.input.bytesRead",), 1),
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain-JSON event log in ``log_dir`` (traced runs:
    stage counts are read from it after the session stops, so nothing
    is queried while work is being timed)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def stage_counts(log_dir: str, windows: list[tuple[str, float, float]]) -> dict[str, dict[str, float]]:
    """Completed-stage counts from the newest event log in ``log_dir``,
    summed per label of the (label, start, end) window in which each
    stage completed. Stages outside every window are not counted."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    newest = max(logs, key=os.path.getmtime)
    done: dict[tuple[int, int], dict] = {}
    failed: dict[tuple[int, int], int] = {}
    with open(newest, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    failed[key] = failed.get(key, 0) + 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                done[(info["Stage ID"], info["Stage Attempt ID"])] = info
    out: dict[str, dict[str, float]] = {}
    for key, info in done.items():
        t = info.get("Completion Time", 0) / 1000
        label = next((w for w, lo, hi in windows if lo <= t <= hi), None)
        if label is None:
            continue
        acc: dict[str, float] = {}
        for a in info.get("Accumulables", []):
            try:
                acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
            except (KeyError, TypeError, ValueError):
                continue
        row = {"count": 1, "task.failed": failed.get(key, 0)}
        for name, (fields, scale) in _STAGE_FIELDS.items():
            row[name] = sum(acc.get(f, 0) for f in fields) * scale
        add_stages(out.setdefault(label, {}), row)
    for row in out.values():
        row["wait_s"] = max(0.0, row["task_s"] - row["cpu_s"])
    return out


def cached_bytes(spark) -> int:
    """Memory plus disk held by persisted RDDs and cached DataFrames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def add_stages(acc: dict[str, float], more: dict[str, float]) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0) + v


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled on a background thread.
    Processes listed in ``exclude`` (the load generator) and their
    descendants are left out."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _children()
        total, todo = 0, list(kids.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _rss_bytes(pid)
            todo.extend(kids.get(pid, []))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
