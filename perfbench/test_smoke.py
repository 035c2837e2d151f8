"""Smoke test of the benchmark harness on tiny inputs (city scale 1, 20k pages).

    python -m pytest perfbench/test_smoke.py -q

Each case runs the harness in its own process, as the benchmark command does,
and checks the result object against the metrics BENCHMARK.json declares.
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
TINY = {
    "pages_snap": {"pages": 20_000, "city_scale": 1},
    "durable_resume": {"city_scale": 1},
    "city_simplify": {"city_scale": 1},
}


def _declared(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


def _run(workload: str, trace: int, seed: int = 5) -> dict:
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    code = f"import run; run.main({argv!r}, sizes={TINY[workload]!r})"
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=HERE, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [("pages_snap", 0), ("pages_snap", 1), ("durable_resume", 1), ("city_simplify", 0)],
)
def test_harness_reports_every_declared_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1 + trace
    declared = _declared(trace)
    assert list(out["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "pages_snap" and trace:
        assert values["pages.extract_s"] > 0 and values["spatial.snapped_share"] > 0
        assert values["checkpoint.stages_written"] == 0
    if workload == "durable_resume":
        assert values["checkpoint.stages_resumed"] > 0 and values["checkpoint.write_s"] > 0
        assert values["simplify.clusters_pass1"] > 0 and values["pages.extract_s"] == 0


def test_seed_42_keeps_the_package_fixtures():
    sys.path[:0] = [ROOT, HERE]
    import workloads

    assert workloads.seed_offsets(workloads.DEFAULT_SEED) == (0, 0)
    assert workloads.seed_offsets(7) != workloads.seed_offsets(8)


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages_snap", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
