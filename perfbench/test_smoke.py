"""Smoke test of the benchmark at the smallest scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload untraced and traced, and checks that every metric is
emitted with its unit, that every output check ran and passed, that the
traced run wrote its spans, and that the command fails cleanly without the
engine next to it.
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

from run import END_TO_END, PER_LAYER, WORKLOAD_NAMES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 1  # pinned for the smoke scale in expected.json


def _run(*args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
def test_every_workload_emits_every_metric(trace):
    proc = _run("--workload", "all", "--scale", "smoke", "--seed", str(SEED),
                "--seconds", "1", "--trace", str(trace))
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = PER_LAYER if trace else END_TO_END
    for name in WORKLOAD_NAMES:
        for metric, unit in want.items():
            got = result["metrics"][f"{name}.{metric}"]
            assert got["unit"] == unit
            assert isinstance(got["value"], (int, float))
        # the pinned checksum was compared, so every check ran
        assert any(line.startswith(f"# {name} ") and "pinned=True" in line for line in lines)
        assert any(line.startswith(f"{name} failed_frac 0.0000") for line in lines)
    if trace:
        m = result["metrics"]
        assert m["pit_tokens_zipf.arrow.bytes_to_python"]["value"] > 0
        assert m["client_backfill_uniform.arrow.bytes_to_python"]["value"] == 0
        assert m["client_backfill_uniform.materialize.partitions_skipped"]["value"] > 0
        for name in WORKLOAD_NAMES:
            path = os.path.join(ROOT, ".perfbench_work", "results",
                                f"{name}-smoke-seed{SEED}-trace1.json")
            with open(path) as fh:
                report = json.load(fh)
            spans = report["spans"]
            assert {s["name"] for s in spans} >= {"session", "datagen", "iter",
                                                  *WORKLOADS[name].spans}
            for s in spans:
                assert set(s) >= {"name", "id", "parent", "run_id", "start", "end"}
                assert s["end"] >= s["start"] and s["run_id"] == report["run_id"]
            assert "trace.overhead_s" in report["per_layer"]


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("--workload", WORKLOAD_NAMES[0], "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
