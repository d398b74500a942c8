"""Tiny-size smoke test of the engine benchmark.

    python3 -m pytest enginebench/tests -q

Runs each workload at a tiny size in-process (each run starts and stops
its own Spark session), so it takes a few minutes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from layers import COUNT_UNITS  # noqa: E402
from run import load_spec, run_benchmark  # noqa: E402
from workloads import BulkLoad, ServeLive  # noqa: E402

SPEC = load_spec(ROOT)
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
COUNTS = [m["name"] for m in SPEC["per_layer"] if m["unit"] in COUNT_UNITS]
CYCLES = 2


def tiny(name: str, seed: int):
    if name == "bulk_load":
        return BulkLoad(seed, chunks=66, stride=1024)
    return ServeLive(seed, sensors=2, metrics=3, preload_s=20000, reads=6,
                     http_reads=1, last_ts=1, write_s=10, recent_s=3600,
                     downsample_s=7200, post_s=60)


_runs: dict = {}


def run(name: str, seed: int, trace: bool, tag: str = "", workload=None):
    key = (name, seed, trace, tag)
    if key not in _runs:
        _runs[key] = run_benchmark(workload or tiny(name, seed), CYCLES, trace)
    return _runs[key]


def _check_result_shape(result: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)


@pytest.mark.parametrize("name", ["bulk_load", "serve_live"])
def test_untraced_run_reports_every_end_to_end_metric(name):
    context, result = run(name, 2, False)
    _check_result_shape(result)
    assert result["correct"], context["failures"]
    assert list(result["metrics"]) == list(E2E_UNITS)
    for metric, m in result["metrics"].items():
        assert E2E_UNITS[metric] == m["unit"]
        assert m["value"] > 0, metric
    assert context["context"]["cycles"] == CYCLES


def test_traced_run_reports_every_per_layer_metric():
    context, result = run("serve_live", 1, True)
    _check_result_shape(result)
    assert result["correct"], context["failures"]
    assert list(result["metrics"]) == PER_LAYER
    assert result["metrics"]["spark.jobs_per_read"]["value"] == 0
    assert result["metrics"]["spark.jobs_per_write"]["value"] > 0
    assert result["metrics"]["spark.jobs_per_line"]["value"] > 0
    assert context["trace"]["max_path_gap"] < 0.01


def test_same_seed_repeats_counts_and_sequence():
    ctx_a, a = run("serve_live", 1, True)
    ctx_b, b = run("serve_live", 1, True, tag="again")
    for name in COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    traced_a, traced_b = ctx_a["trace"]["end_to_end_traced"], ctx_b["trace"]["end_to_end_traced"]
    assert traced_a["storage_bytes_per_cell"] == traced_b["storage_bytes_per_cell"]
    assert ctx_a["context"]["op_sequence_sha1"] == ctx_b["context"]["op_sequence_sha1"]


def test_other_seed_gives_other_sequence():
    ctx_1, _ = run("serve_live", 1, True)
    ctx_2, _ = run("serve_live", 2, False)
    assert ctx_1["context"]["op_sequence_sha1"] != ctx_2["context"]["op_sequence_sha1"]


class _CorruptFirstScan(BulkLoad):
    """Flips one cell of the first timed scan's answer."""

    def cycle(self, env, k):
        ops = super().cycle(env, k)
        if k == 0:
            scan = next(op for op in ops if op.kind == "scan")
            run_scan = scan.run

            def corrupted():
                pdf = run_scan()
                pdf.iloc[0, 0] = 1e6  # the walk never reaches this value
                return pdf

            scan.run = corrupted
        return ops


def test_corrupted_answer_counts_as_failed_op():
    wl = _CorruptFirstScan(3, chunks=66, stride=1024)
    context, result = run("bulk_load", 3, False, tag="corrupt", workload=wl)
    _check_result_shape(result)
    assert result["failed"] == 1 and result["correct"] is False
    assert "scan" in context["failures"][0] and "cells differ" in context["failures"][0]
    assert list(result["metrics"]) == list(E2E_UNITS)


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "enginebench",
                    ignore=shutil.ignore_patterns("__pycache__", ".*"))
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "serve_live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
