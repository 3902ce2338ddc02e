"""Smoke test of the benchmark command at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each Spark case starts its own JVM (about 30-60 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, streams  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(*args: str, cwd: str = ROOT) -> "tuple[int, dict | None]":
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p.returncode, None


def assert_metrics(result: dict, spec: "list[dict]") -> None:
    assert result["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_stream_prints_every_end_to_end_metric():
    code, result = run("--workload", "stream_churn", "--seed", "5", "--seconds", "1")
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert_metrics(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_batch_prints_every_per_layer_metric():
    code, result = run("--workload", "batch_headline", "--seed", "5", "--seconds", "1",
                       "--sf", "0.001", "--trace", "1")
    assert code == 0 and result["correct"]
    assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["operators.exec_s"]["value"] > 0


@pytest.mark.parametrize("workload", ["stream_dense", "batch_headline"])
def test_corrupted_reference_fails_the_run(workload):
    code, result = run("--workload", workload, "--seed", "5", "--seconds", "1",
                       "--sf", "0.001", "--corrupt-reference")
    assert code == 1
    assert result["correct"] is False and result["failed"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, result = run("--workload", "stream_churn", "--seed", "1", "--seconds", "1",
                       cwd=str(tmp_path))
    assert code != 0 and result is None


@pytest.mark.parametrize("name", ["stream_churn", "stream_dense"])
def test_stream_inputs_are_seeded(tmp_path, name):
    shape = streams.SHAPES[name]
    a, _ = gen.stage_stream(shape, 7, str(tmp_path / "a"))
    b, _ = gen.stage_stream(shape, 7, str(tmp_path / "b"))
    c, _ = gen.stage_stream(shape, 8, str(tmp_path / "c"))
    assert gen.sha256_files(a) == gen.sha256_files(b) != gen.sha256_files(c)


def test_batch_fixture_is_seeded(tmp_path):
    _, a = gen.stage_tables(7, 0.001, str(tmp_path / "a"))
    _, b = gen.stage_tables(7, 0.001, str(tmp_path / "b"))
    assert a == b


def test_reference_has_no_late_rows_and_bounded_state():
    shape = streams.SHAPES["stream_churn"]
    batches = list(gen.stream_batches(shape, 3))
    for prev, cur in zip(batches, batches[1:]):
        assert cur[1].min() > prev[1].max()  # above the watermark
    live = [r[2] for r in gen.stream_reference(shape, batches)]
    assert max(live) < 7 * shape.keys  # 2-4 batches alive + ~2 to evict
