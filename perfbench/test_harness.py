"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench -q

The smoke test runs every workload at the tiny size, one JVM each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from percentiles import percentile, tail_percentile  # noqa: E402
from spans import Tracer, covered, self_times  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99.9) == 3.0
    assert percentile([4, 1, 3, 2], 50) == 2
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(8, 12)], 0, 10) == 2
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_subtracts_only_direct_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 3, "start": 2.5, "end": 4.5},  # grandchild of 1
        {"id": 5, "parent": 1, "start": 8.0, "end": 12.0},  # runs past 1
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10 - (4 + 2))
    assert got[2] == pytest.approx(2)
    assert got[3] == pytest.approx(3 - 2)
    assert got[4] == pytest.approx(2)
    assert got[5] == pytest.approx(4)


def test_tracer_records_parents_ops_and_wrapped_calls():
    class Layer:
        def work(self, x):
            return x * 2

    t = Tracer()
    t.wrap(Layer, "work", "layer.work")
    with t.operation(7), t.span("outer") as outer:
        assert Layer().work(21) == 42
    t.unwrap_all()
    assert Layer.work.__name__ == "work" and not hasattr(Layer.work, "__wrapped__")
    by = {s["name"]: s for s in t.spans}
    assert by["layer.work"]["parent"] == outer["id"]
    assert by["layer.work"]["op"] == 7 and by["outer"]["parent"] is None
    agg = t.by_name()
    assert agg["outer"]["calls"] == 1
    assert agg["outer"]["self_s"] <= agg["outer"]["total_s"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize(
    "workload, trace",
    [("query_mix", 0), ("nrt_ingest", 1), ("build_bulk", 0)],
)
def test_smoke_tiny(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    if trace:
        from layers import CONTRACT

        assert set(result["metrics"]) == set(CONTRACT)
        assert "merge.merges" in proc.stdout and "deletes.docids_deleted" in proc.stdout
    else:
        assert {"setup_s", "throughput_per_s", "index_bytes_per_text_byte"} <= set(
            result["metrics"]
        )
