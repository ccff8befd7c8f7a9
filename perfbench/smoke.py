"""Smoke test of the benchmark at tiny input sizes.

Every metric BENCHMARK.json names must print with its unit, and a corrupted
answer (one edge dropped from the image assignments) must be reported as a
failure, not a pass. Each case starts its own Spark driver (about a minute).
The file name keeps it out of a plain ``pytest`` run from the repository
root; run it by name:

    python3 -m pytest perfbench/smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
TINY = ("--seed", "3", "--seconds", "0", "--scale", "0.05")

DROP_ONE_EDGE = """
from pyspark.sql import functions as F
from datasketches_cpp_spark.operators import imagededup

_dedup_images = imagededup.dedup_images

def _dropped_edge(*args, **kwargs):
    out = _dedup_images(*args, **kwargs)
    asg = out["assignments"]
    victim = asg.where("id != cluster_id").agg(F.max("id")).collect()[0][0]
    out["assignments"] = asg.withColumn(
        "cluster_id",
        F.when(F.col("id") == F.lit(victim), F.col("id")).otherwise(F.col("cluster_id")),
    )
    return out

imagededup.dedup_images = _dropped_edge
"""


def _run(args: tuple, prelude: str = "") -> dict:
    code = (
        f"import sys\nsys.path.insert(0, {HERE!r})\n{prelude}\n"
        f"import run\nsys.exit(run.main({list(args)!r}))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=900
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, expected: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in expected}
    for m in expected:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(workload, trace):
    result = _run(("--workload", workload, "--trace", str(trace)) + TINY)
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 2
    _assert_metrics(result, SPEC["per_layer"] if trace else SPEC["end_to_end"])
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_dropped_edge_is_reported_as_a_failure():
    result = _run(("--workload", "images", "--trace", "0") + TINY, prelude=DROP_ONE_EDGE)
    assert not result["correct"]
    assert result["failed"] >= 1
