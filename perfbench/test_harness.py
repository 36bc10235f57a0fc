"""Smoke tests of the benchmark harness on tiny inputs.

    python3 -m pytest perfbench/test_harness.py -q

Each run starts its own Spark session, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import Run
from perfbench.run import WORKLOAD_NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_every_metric_printed_with_its_unit(workload: str, trace: int) -> None:
    rc, lines = _run(
        ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    )
    assert rc == 0, lines[-5:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    listed = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    info = json.loads(lines[-2])["info"]
    assert info["env"]["master"] == f"local[{info['env']['nproc']}]"
    if workload == "corpus_dedup" and not trace:
        # every timed pass ran on a corpus path nothing had used before
        dirs = info["pass_dirs"]
        assert len(set(dirs)) == len(dirs) and not set(dirs) & set(info["warm_dirs"])


def test_fresh_never_repeats_a_path(tmp_path) -> None:
    run = Run(workload="w", seed=1, seconds=1, traced=False, work=str(tmp_path))
    paths = [run.fresh("corpus-pass") for _ in range(5)]
    assert len(set(paths)) == 5
    os.makedirs(os.path.join(str(tmp_path), "x-0005"))
    with pytest.raises(RuntimeError):
        run.fresh("x")


def test_fails_without_the_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.dirname(os.path.abspath(__file__)), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run(str(tmp_path), "--workload", WORKLOAD_NAMES[0], "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert rc != 0
    assert not any(line.startswith('{"correct"') for line in lines)
