"""The benchmark's own arithmetic on small synthetic inputs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics

import pandas as pd
import pytest

import logs
import stats
from wl_query import oracle_mismatch


def _write_log(path: str, entries: list[dict], mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _src(path: str, batch: int) -> dict:
    return {"path": f"file://{path}", "timestamp": 0, "batchId": batch}


def _sink(path: str, size: int = 10, action: str = "add") -> dict:
    return {"path": f"file://{path}", "size": size, "isDir": False, "action": action}


@pytest.fixture
def logs_dir(tmp_path):
    """Source batches 0..2 (2 compacted, repeating 0 and 1) and sink
    commits 0..2 (2 compacted), with known commit times."""
    src = tmp_path / "src"
    files = {name: str(src / name) for name in ("a", "b", "c", "d")}
    ckpt = str(tmp_path / "ckpt")
    sources = os.path.join(ckpt, "sources", "0")
    _write_log(os.path.join(sources, "0"), [_src(files["a"], 0)])
    _write_log(os.path.join(sources, "1"), [_src(files["b"], 1), _src(files["c"], 1)])
    _write_log(
        os.path.join(sources, "2.compact"),
        [_src(files["a"], 0), _src(files["b"], 1), _src(files["c"], 1), _src(files["d"], 2)],
    )
    target = str(tmp_path / "out")
    meta = os.path.join(target, "_spark_metadata")
    _write_log(os.path.join(meta, "0"), [_sink("/o/p0")], mtime=1000.5)
    _write_log(os.path.join(meta, "1"), [_sink("/o/p1")], mtime=1002.0)
    _write_log(
        os.path.join(meta, "2.compact"),
        [_sink("/o/p0"), _sink("/o/p1"), _sink("/o/p2", 30)],
        mtime=1003.25,
    )
    return files, ckpt, target


def test_source_log_reads_compact_files_once_per_batch(logs_dir):
    files, ckpt, _ = logs_dir
    batches = logs.source_batches(ckpt)
    assert batches == {files["a"]: {0}, files["b"]: {1}, files["c"]: {1}, files["d"]: {2}}


def test_freshness_joins_landing_to_commit_of_reading_batch(logs_dir):
    files, ckpt, target = logs_dir
    landed = {files["a"]: 1000.0, files["b"]: 1000.75, files["c"]: 1001.0, files["d"]: 1002.5}
    fresh, missing, dup = logs.freshness(landed, logs.source_batches(ckpt), logs.sink_commits(target))
    assert fresh == pytest.approx({
        files["a"]: 0.5, files["b"]: 1.25, files["c"]: 1.0, files["d"]: 0.75,
    })
    assert missing == [] and dup == []


def test_freshness_reports_uncommitted_and_twice_read_files(logs_dir, tmp_path):
    files, ckpt, target = logs_dir
    late = str(tmp_path / "src" / "late")
    _write_log(os.path.join(ckpt, "sources", "0", "3"), [_src(late, 3), _src(files["a"], 3)])
    landed = {files["a"]: 1000.0, late: 1003.0}
    fresh, missing, dup = logs.freshness(landed, logs.source_batches(ckpt), logs.sink_commits(target))
    assert missing == [late]
    assert dup == [files["a"]]
    assert fresh == pytest.approx({files["a"]: 0.5})


def test_sink_files_follow_adds_and_deletes(logs_dir):
    _, _, target = logs_dir
    _write_log(
        os.path.join(target, "_spark_metadata", "3"),
        [_sink("/o/p1", action="delete")],
    )
    assert logs.sink_files(target) == [("/o/p0", 10), ("/o/p2", 30)]


def test_backlog_max_counts_landed_but_uncommitted(logs_dir):
    files, ckpt, target = logs_dir
    landed = {files["a"]: 1000.0, files["b"]: 1000.1, files["c"]: 1000.2, files["d"]: 1001.0}
    # at batch 0's commit (1000.5) b and c have landed but wait for batch 1
    assert logs.backlog_max(landed, logs.source_batches(ckpt), logs.sink_commits(target)) == 2


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_falls_back_to_max_on_small_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, "max")
    values = [float(i) for i in range(1, 201)]
    v, label = stats.tail(values)
    assert label == "p95"
    assert sum(x > v for x in values) >= stats.TAIL_MIN_BEYOND


def test_quantile_interpolates():
    assert stats.quantile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert stats.quantile([5.0], 0.95) == 5.0


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_iqr_share_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / q2)


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "id": [1, 2, 3, 3],
        "name": ["a", "b", "c", "c"],
        "v": [0.5, 1.25, -2.0, -2.0],
        "ts": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-02 00:00:00", "2024-01-03 00:00:00", "2024-01-03 00:00:00"]),
    })


def test_multiset_hash_ignores_row_order():
    df = _frame()
    cols = list(df.columns)
    shuffled = df.sample(frac=1.0, random_state=7).reset_index(drop=True)
    assert logs.multiset_hash(df, cols) == logs.multiset_hash(shuffled, cols)


def test_multiset_hash_counts_duplicates_and_values():
    df = _frame()
    cols = list(df.columns)
    base = logs.multiset_hash(df, cols)
    assert base[0] == 4
    assert logs.multiset_hash(df.iloc[:3], cols) != base  # one copy of a duplicate lost
    changed = df.copy()
    changed.loc[0, "v"] = 0.51
    assert logs.multiset_hash(changed, cols) != base


def test_multiset_hash_same_for_frame_and_parquet_with_other_timestamp_unit(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = _frame()
    cols = list(df.columns)
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.set_column(3, "ts", table.column("ts").cast(pa.timestamp("ns")))
    half = tmp_path / "a.parquet", tmp_path / "b.parquet"
    pq.write_table(table.slice(0, 2), half[0])
    pq.write_table(table.slice(2), half[1], use_deprecated_int96_timestamps=True)
    assert logs.files_hash([str(p) for p in half], cols) == logs.multiset_hash(df, cols)


def test_oracle_mismatch_is_order_insensitive_and_exact():
    rows = [(1, "a", 0.5), (2, "b", 1.5)]
    assert oracle_mismatch(["k", "s", "v"], rows, ["v", "k", "s"], [(1.5, 2, "b"), (0.5, 1, "a")]) is None
    assert "rows differ" in oracle_mismatch(["k", "s", "v"], rows, ["k", "s", "v"], [(1, "a", 0.5), (2, "b", 1.5000001)])
    assert "rows !=" in oracle_mismatch(["k"], [(1,)], ["k"], [])
    assert "columns" in oracle_mismatch(["k"], [(1,)], ["j"], [(1,)])


def test_benchmark_json_matches_the_metric_catalog():
    import run

    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.per_layer()


def test_steal_share_is_steal_over_all_cpu_time():
    import env

    start = [100, 0, 10, 500, 0, 0, 0, 20, 0, 0]
    end = [160, 0, 20, 520, 0, 0, 0, 30, 0, 0]
    assert env.steal_share(start, end) == pytest.approx(10 / 100)
    assert env.steal_share(None, end) is None
