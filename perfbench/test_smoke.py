"""Smoke test of the benchmark's own code at sf0.001.

Runs every workload untraced and traced and checks that each run is
correct and emits exactly the metrics ``BENCHMARK.json`` declares, each
with its declared unit and a name made of letters, digits, ``_``,
``.`` and ``-``. Takes a few minutes (one Spark start-up per run)::

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# incremental_ticks is not in BENCHMARK.json (see README.md) but is
# still a workload of the command, so it is smoke-tested too
WORKLOADS = [w["name"] for w in BENCH["workloads"]] + ["incremental_ticks"]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_declared_metrics(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--scale", "0.001")
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = {m["name"]: m["unit"]
                for m in BENCH["per_layer" if trace else "end_to_end"]}
    metrics = result["metrics"]
    assert set(metrics) == set(declared)
    for name, m in metrics.items():
        assert NAME.match(name), name
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], (int, float)), name


def test_declared_names_are_well_formed():
    names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name


def test_fails_without_the_package(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own files, the
    command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
