"""The benchmark's own tests. Run from the repo root:

    python -m pytest perfbench/ -q

The traced-count test starts Spark four times (two traced runs per
workload) and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import harness  # noqa: E402


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_inputs_follow_the_seed():
    from workloads import QueryWorkload
    assert QueryWorkload.statements(3) == QueryWorkload.statements(3)
    assert QueryWorkload.statements(3) != QueryWorkload.statements(4)
    for seed in range(20):
        _, params = QueryWorkload.statements(seed)
        for p in params.values():
            if "lo" in p:   # every window lies inside the days with data
                assert data.JAN1_NS <= p["lo"] < p["hi"] \
                    <= data.JAN1_NS + data.EVENTS_DAYS * data.DAY_NS
    assert [x.equals(y) for x, y in zip(data.ingest_batches(3),
                                        data.ingest_batches(3))] \
        == [True] * data.INGEST_DEPTH


def test_linear_fill_interpolates_inner_gaps_only():
    vals = [None, 1.0, None, None, 4.0, None]
    assert data.linear_fill(vals, [0, 10, 20, 30, 40, 50]) == \
        [None, 1.0, 2.0, 3.0, 4.0, None]


def test_rows_match_tolerates_float_rounding_only():
    want = [("a", 1, 0.1 + 0.2), ("b", 2, None)]
    assert data.rows_match([("b", 2, None), ("a", 1, 0.3)], want)
    assert not data.rows_match([("a", 1, 0.31), ("b", 2, None)], want)
    assert not data.rows_match([("a", 1, 0.3)], want)


def test_ingest_batches_upsert_earlier_points():
    batches = data.ingest_batches(5)
    assert all(len(b) == data.INGEST_BATCH for b in batches)
    merged = data.upserted(batches)
    # batch 1 is all new; every later batch re-writes 100 earlier points
    assert len(merged) == data.INGEST_BATCH * data.INGEST_DEPTH \
        - (data.INGEST_DEPTH - 1) * data.INGEST_BATCH // 10
    last = batches[-1].iloc[-1]
    row = merged[(merged.time == last.time) & (merged.host == last.host)]
    assert row.usage.tolist() == [last.usage]


def test_percentile_and_samples_beyond():
    vals = [float(i) for i in range(1, 101)]
    assert harness.percentile(vals, 90) == 90.0
    assert harness.beyond(vals, 90) == 10
    assert harness.percentile(vals, 50) == 50.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run(tmp_path, "--workload", "query", "--seed", "1",
               "--seconds", "1", "--trace", "0", timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def _traced_counts(workload, seed):
    out = _run(ROOT, "--workload", workload, "--seed", str(seed),
               "--seconds", "1", "--trace", "1")
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, out.stdout
    return {k: v["value"] for k, v in res["metrics"].items()
            if v["unit"] == "count"}


@pytest.mark.parametrize("workload", ["query", "ingest"])
def test_traced_counts_repeat_exactly(workload):
    first = _traced_counts(workload, 11)
    assert any(first.values())
    assert _traced_counts(workload, 11) == first
