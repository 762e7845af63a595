"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload through ``perfbench/run.py`` (untraced and traced) and
checks that every end-to-end and per-layer metric is emitted by name with
its unit, that the seed-state engine passes every check, and that a
deliberately corrupted result (two ranks swapped) counts as a failed
operation. Each run starts its own Spark session; expect a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.inputs import WORKLOADS
from perfbench.workload import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--seed", "5", "--seconds", "1", "--scale", "0.05"]


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert _left_running() == [], "the run left processes running"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def _left_running() -> list[str]:
    """Command lines of live processes that name a run's work dir (the
    Spark JVM does, through spark.local.dir)."""
    work = os.path.join(ROOT, ".perfbench_work")
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace").replace("\0", " ")
        except OSError:
            continue
        if work in cmd:
            out.append(cmd)
    return out


def _assert_metrics(result: dict, wanted: dict[str, str]):
    assert set(result["metrics"]) == set(wanted)
    for name, unit in wanted.items():
        got = result["metrics"][name]
        assert got["unit"] == unit, name
        assert isinstance(got["value"], float), name


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric_and_passes_checks(workload, trace):
    result = _run("--workload", workload, "--trace", str(trace), *TINY)
    _assert_metrics(result, PER_LAYER if trace else END_TO_END)
    assert result["failed"] == 0 and result["correct"] is True
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_corrupted_result_counts_as_failed():
    result = _run("--workload", "code", "--trace", "0", "--corrupt", "1", *TINY)
    assert result["failed"] == 1
    assert result["correct"] is False


def test_exits_nonzero_without_the_engine(tmp_path):
    """A directory holding only the benchmark must fail fast, printing no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(ROOT, "perfbench", name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "code", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
