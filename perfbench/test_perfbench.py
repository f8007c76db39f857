"""The benchmark's own test: every named metric is emitted with its unit,
a wrong result fails the run, and a checkout without the program fails
without printing a result.

Run from the repository root: ``python3 -m pytest perfbench/test_perfbench.py -q``
(about six minutes: each case starts a JVM).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace,kind", [("0", "end_to_end"), ("1", "per_layer")])
def test_smoke_emits_every_metric_with_its_unit(workload, trace, kind):
    code, lines = bench("--workload", workload, "--trace", trace, "--smoke")
    out = result(lines)
    assert code == 0 and out["correct"] and out["failed"] == 0
    expected = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == expected
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if kind == "end_to_end":
            assert m["value"] > 0, name
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_wrong_result_fails_the_run():
    code, lines = bench("--workload", "lakehouse_ingest", "--smoke", "--corrupt")
    out = result(lines)
    assert code != 0
    assert not out["correct"] and out["failed"] >= 1


def test_checkout_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("--workload", SPEC["workloads"][0]["name"], cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
