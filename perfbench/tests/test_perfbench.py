"""Tests of the benchmark's own code.

    python -m pytest perfbench/tests -q

The smoke tests start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run as bench
from perfbench.measure import slot_util, tail_percentile
from perfbench.tracing import LAYER_UNITS
from perfbench.workloads import WORKLOADS, Workload, pass_order

ROOT = Path(bench.__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _above(samples, value):
    return sum(s > value for s in samples)


@pytest.mark.parametrize("n", [11, 20, 30, 99, 100, 101, 250])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    p, value = tail_percentile(samples)
    assert _above(samples, value) >= 10
    assert p <= 0.90
    # The next higher sample leaves fewer than ten beyond it, or lies
    # above p90.
    assert _above(samples, value + 1) < 10 or (value + 2) / n > 0.90


def test_tail_percentile_values():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([float(i) for i in range(30)]) == (20 / 30, 19.0)
    assert tail_percentile([float(i) for i in range(100)]) == (0.90, 89.0)
    # Capped at p90 once more than a hundred samples allow it.
    assert tail_percentile([float(i) for i in range(200)]) == (0.90, 179.0)
    # Order of the input does not matter.
    assert tail_percentile([float(i) for i in reversed(range(30))])[1] == 19.0


def test_slot_util_arithmetic():
    # 6 s of executor run time in 2 s of wall time on 4 cores: 6 of 8
    # slot-seconds busy.
    assert slot_util(6.0, 2.0, 4) == pytest.approx(0.75)
    assert slot_util(1.0, 1.0, 1) == pytest.approx(1.0)
    assert slot_util(1.0, 0.0, 4) == 0.0


def test_pass_order_depends_only_on_seed_and_pass():
    keys = WORKLOADS["olap_star"].keys
    assert pass_order(keys, 7, 1) == pass_order(keys, 7, 1)
    assert sorted(pass_order(keys, 7, 1)) == sorted(keys)
    assert {tuple(pass_order(keys, s, 1)) for s in range(5)} != {tuple(keys)}


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert layer == LAYER_UNITS
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_keys_exist_and_are_unique():
    from luxor_db_spark.registry import load_all_queries

    queries = load_all_queries()
    keys = [k for w in WORKLOADS.values() for k in w.keys]
    assert len(keys) == len(set(keys))
    assert set(keys) <= set(queries)


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(
        ROOT / "perfbench",
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_star",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.fixture
def bench_env(tmp_path):
    """The run's environment, restored afterwards."""
    saved = dict(os.environ)
    bench._prepare_env(tmp_path / "work")
    yield
    os.environ.clear()
    os.environ.update(saved)


def test_failing_key_counts_in_fail_ratio(bench_env, monkeypatch):
    from luxor_db_spark.registry import load_all_queries

    def boom(spark, sf_dir):
        raise RuntimeError("forced failure")

    monkeypatch.setitem(load_all_queries(), "perfbench_boom", boom)
    monkeypatch.setitem(
        WORKLOADS,
        "with_failure",
        Workload("with_failure", ("flagship_q1", "perfbench_boom")),
    )
    result, detail = bench.run_workload("with_failure", 1, 0.0, False)
    assert (result["attempted"], result["failed"]) == (2, 1)
    assert result["correct"] is False
    assert detail["fail_ratio"] == 0.5
    assert "forced failure" in detail["failures"]["perfbench_boom"]
    assert detail["checks"]["flagship_q1"] == "pass"


@pytest.mark.parametrize(
    "workload,trace",
    [("olap_star", 0), ("llm_text", 0), ("stream_drain", 0), ("stream_drain", 1)],
)
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], p.stdout.splitlines()[-2]
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    if trace:
        metrics = {k: m["value"] for k, m in result["metrics"].items()}
        assert metrics["stream.batches"] > 0
        assert metrics["stream.add_batch_s"] > 0
        assert metrics["exec.tasks"] >= metrics["exec.stages"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())
