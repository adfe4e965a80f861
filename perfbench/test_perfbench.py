"""Self-test of the benchmark at tiny scale (one run per workload).

    python -m pytest perfbench/ -q

Checks that every metric BENCHMARK.json declares is emitted with its
unit, and that a run whose outputs miss an expected count is reported as
a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in DECLARED[kind]}


def _emitted(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.fixture(scope="module")
def spark():
    session = run.start_session(run._cpus())
    yield session
    session.stop()
    shutil.rmtree(run.WORK, ignore_errors=True)


@pytest.mark.parametrize("workload",
                         [w["name"] for w in DECLARED["workloads"]])
def test_end_to_end_metrics(spark, workload):
    result, record = run.bench(workload, seed=7, seconds=0.1, trace=False,
                               scale=W.TINY)
    assert result["correct"], record
    assert result["failed"] == 0 and result["attempted"] >= 2
    assert _emitted(result) == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_per_layer_metrics(spark):
    result, record = run.bench("ingest_agg", seed=7, seconds=0.1, trace=True,
                               scale=W.TINY)
    assert result["correct"], record
    assert _emitted(result) == _declared("per_layer")


@pytest.mark.parametrize("workload, key", [
    ("ingest_agg", "rows_ok"),
    ("chunked_ingest", "rows_rejected"),
])
def test_wrong_expected_count_is_a_failed_operation(spark, workload, key):
    ctx = W.Ctx(spark=spark, work=tempfile.mkdtemp(dir=run.WORK), seed=7,
                scale=W.TINY, cpus=run._cpus())
    wl = W.WORKLOADS[workload](ctx)
    wl.stage()
    wl.expected[key] += 1
    outcome = run.Outcome()
    rec = outcome.sample(wl)
    assert (outcome.attempted, outcome.failed) == (1, 1)
    assert len(rec["problems"]) == 1, rec["problems"]
