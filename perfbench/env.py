"""Per-run scratch isolation and the environment stamp on every result."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import subprocess
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "kafka_parquet_writer_spark")


class Scratch:
    """A per-run directory that holds TMPDIR, SPARK_LOCAL_DIRS and the
    warehouse, so temp dirs the operators create and never delete cannot
    slow a later run. Removed by ``close``."""

    def __init__(self, tag: str) -> None:
        self.tmp_entries_at_start = _count_entries(tempfile.gettempdir())
        base = os.path.join(HERE, ".work")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{tag}-", dir=base)
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "local")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.data = os.path.join(self.root, "data")
        self.eventlog = os.path.join(self.root, "eventlog")
        for d in (self.tmp, self.local, self.data, self.eventlog):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
        tempfile.tempdir = None  # re-read TMPDIR on next use

    def java_options(self) -> str:
        return f"-Djava.io.tmpdir={self.tmp}"

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _count_entries(path: str) -> int | None:
    try:
        return len(os.listdir(path))
    except OSError:
        return None


def _git_sha() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    top, sha = (out.stdout.splitlines() + ["", ""])[:2]
    return sha if os.path.realpath(top) == os.path.realpath(ROOT) else None


def source_hash() -> str:
    """sha256 over the engine package's Python sources: identifies the
    code under test where no git metadata exists."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(PACKAGE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def definition_hash(definition: dict) -> str:
    """Hash of a workload definition (its key set, rates and sizes)."""
    raw = json.dumps(definition, sort_keys=True).encode()
    return hashlib.sha256(raw).hexdigest()[:16]


def _java_version() -> str | None:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.SubprocessError):
        return None
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else None


def stamp(workload: str, seed: int, definition: dict, trace: bool) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": _git_sha(),
        "source_hash": source_hash(),
        "definition_hash": definition_hash(definition),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "loadavg_start": os.getloadavg(),
        "cpu_times_start": cpu_times(),
        "started_at": time.time(),
    }


def cpu_times() -> list[int] | None:
    """The machine's aggregate CPU time counters from ``/proc/stat``
    (user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            first = f.readline().split()
    except OSError:
        return None
    return [int(x) for x in first[1:]] if first and first[0] == "cpu" else None


def steal_share(start: list[int] | None, end: list[int] | None) -> float | None:
    """Share of CPU time a hypervisor gave to other guests between two
    ``cpu_times`` readings: wall-clock metrics inflate with it."""
    if not start or not end or len(start) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else None


#: stamp fields two results must share before their numbers are compared
COMPARABLE_ON = ("workload", "nproc", "spark_graft_cpus", "definition_hash")


def refuse_reason(a: dict, b: dict) -> str | None:
    """Why two result stamps must not be compared, or None if they may."""
    for k in COMPARABLE_ON:
        if a.get(k) != b.get(k):
            return f"{k} differs: {a.get(k)!r} vs {b.get(k)!r}"
    return None
