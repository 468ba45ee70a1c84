"""Smoke tests of the benchmark itself (tiny inputs, one round).

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs the benchmark in a subprocess from the checkout root,
as the benchmark is meant to be run, and reads its last output line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(args: list[str], code: str | None = None) -> tuple[dict, dict]:
    """Run the benchmark (or ``code`` that calls ``run.main``) in smoke
    mode; returns (context, result) from its last two lines."""
    argv = [*args, "--seed", "7", "--seconds", "1", "--smoke"]
    if code is None:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), *argv]
    else:
        cmd = [sys.executable, "-c", code, *argv]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    ).stdout.strip().splitlines()
    return json.loads(out[-2])["context"], json.loads(out[-1])


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_present_and_correct(workload):
    context, result = _run(["--workload", workload, "--trace", "0"])
    _assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0, context["problems"]
    assert context["fail_ratio"] == 0.0
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer(workload):
    context, result = _run(["--workload", workload, "--trace", "1"])
    _assert_metrics(result, SPEC["per_layer"])
    assert result["correct"], context["problems"]
    assert result["metrics"]["exec.jobs"]["value"] > 0


def test_wrong_value_raises_fail_ratio():
    # q1 returns every value + 1: the DuckDB comparison must catch it
    code = f"""
import dataclasses, sys
sys.path[:0] = [{ROOT!r}, {HERE!r}]
from pyspark.sql import functions as F
from data_engineering_hs_spark.queries import REGISTRY, load_all
load_all()
q = REGISTRY["q1_pricing_summary"]
def wrong(spark, sf_dir):
    df = q.fn(spark, sf_dir)
    return df.select(*[(F.col(c) + 1).alias(c) if t in ("double", "bigint") else F.col(c)
                       for c, t in df.dtypes])
REGISTRY[q.name] = dataclasses.replace(q, fn=wrong)
import run
sys.exit(run.main(sys.argv[1:]))
"""
    context, result = _run(["--workload", WORKLOADS[0], "--trace", "0"], code)
    assert not result["correct"]
    assert result["failed"] > 0
    assert context["fail_ratio"] > 0
