"""Open-loop load generator for the ``ingest_live`` workload.

Runs as its own process. Moves pre-encoded files from a staging dir
into the ingest source dir by atomic rename, one every ``--period``
seconds from ``--start-at`` (a wall-clock time), whatever the ingest
query is doing. Writes one JSON record per file (name, due and actual
landing time) to ``--out`` when done.

    python3 perfbench/loadgen.py --staged DIR --src DIR --period 0.047 \
        --start-at 1760000000.0 --out landed.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staged", required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--start-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    names = sorted(n for n in os.listdir(args.staged) if n.endswith(".parquet"))
    landed = []
    for i, name in enumerate(names):
        due = args.start_at + i * args.period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        dst = os.path.join(args.src, name)
        os.rename(os.path.join(args.staged, name), dst)
        landed.append({"path": dst, "due": due, "landed": time.time()})
    tmp = args.out + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(landed, f)
    os.rename(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
