"""Tests of the benchmark itself (not part of the package's suite).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload once over tiny inputs, untraced and
traced, and check the result line against ``BENCHMARK.json``; they take a
few minutes. The parser test reads a small recorded event log.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

from tracing import covered_ms, parse_event_log  # noqa: E402
import datagen  # noqa: E402
from workloads import WORKLOADS, Oracle, arrow_rows, mismatch  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_and_passes_the_gate(workload, trace):
    out = _run(
        ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["end_to_end" if trace == 0 else "per_layer"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in want}
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
    if trace == 0:
        for m in result["metrics"].values():
            assert m["value"] > 0


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__")
    )
    out = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_event_log_parser_on_a_recorded_log():
    # recorded on local[2] with AQE off, then cut to the log-start, job,
    # stage-completed and task-end events: group "b|q|1" wrote 3 range
    # partitions to a noop sink, group "x|q|1" a groupBy from 4 partitions
    # into 2 shuffle partitions, and one collect ran with no group
    log = parse_event_log(os.path.join(HERE, "data", "eventlog.zstd"))
    by_group = {}
    for job in log["jobs"]:
        by_group.setdefault(job["group"], []).append(job)
        assert job["end_ms"] >= job["start_ms"]
    assert {g: len(j) for g, j in by_group.items()} == {"": 1, "b|q|1": 1, "x|q|1": 1}
    assert log["groups"]["b|q|1"]["tasks"] == 3
    x = log["groups"]["x|q|1"]
    assert x["tasks"] == 6
    assert x["shuffle_write_bytes"] > 0
    assert x["shuffle_read_bytes"] == x["shuffle_write_bytes"]
    for g in log["groups"].values():
        assert g["run_ms"] >= 0 and g["cpu_ns"] > 0


def test_covered_ms_merges_and_clips():
    assert covered_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
    assert covered_ms([], 0, 10) == 0
    assert covered_ms([(20, 30)], 0, 10) == 0


def test_a_cached_oracle_result_is_compared_like_a_fresh_one(tmp_path):
    lake = datagen.write_lake(str(tmp_path / "lake"), 0.001)
    oracle = Oracle(lake, str(tmp_path / "cache"))
    sql = "SELECT r_regionkey, r_name FROM region"
    rows, cols = arrow_rows(oracle.result(sql))
    assert len(rows) == 5 and len(os.listdir(tmp_path / "cache")) == 1
    assert oracle.check(sql, rows[::-1], cols) is None
    assert "row count" in oracle.check(sql, rows[1:], cols)
    oracle.close()


def test_mismatch_is_order_free_and_exact():
    rows = [(1, "a", 0.5), (2, None, 1.5)]
    assert mismatch(rows, ["k", "s", "v"], [(None, 1.5, 2), ("a", 0.5, 1)], ["s", "v", "k"]) is None
    assert "row count" in mismatch(rows, ["k", "s", "v"], rows[:1], ["k", "s", "v"])
    assert mismatch(rows, ["k", "s", "v"], rows[::-1], ["k", "s", "v"]) is None
    assert "value" in mismatch(rows, ["k", "s", "v"], [(1, "a", 0.5), (2, None, 1.25)], ["k", "s", "v"])
