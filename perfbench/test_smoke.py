"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Each workload runs twice through run.py: untraced, and traced with one
output row deliberately corrupted. The first must print every end-to-end
metric with its unit and pass its checks; the second must print every
per-layer metric and must fail its checks, so the checker is not
vacuous. The checkers are also exercised directly, without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import backlog  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, *extra: str) -> dict:
    # long enough for the tiny stream to drain both of its micro-batches
    seconds = "600" if workload == "stream_ingest" else "1"
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "3", "--seconds", seconds, "--tiny"]
    out = subprocess.run(
        [*cmd, *extra], cwd=ROOT, capture_output=True, text=True, timeout=600, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(res: dict, declared: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int) and 0 <= res["failed"] <= res["attempted"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = _run(workload, "--trace", "0")
    _assert_metrics(res, SPEC["end_to_end"])
    assert res["correct"] is True
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric_and_rejects_a_corrupt_row(workload):
    res = _run(workload, "--trace", "1", "--perturb")
    _assert_metrics(res, SPEC["per_layer"])
    assert res["correct"] is False


def test_oracle_compare_rejects_a_changed_row():
    cols, rows = ["b", "a"], [(1, 0.5), (2, 0.25)]
    assert oracle.compare(cols, rows, ["a", "b"], [(0.25, 2), (0.5, 1)]) is None
    assert oracle.compare(cols, [(1, 0.5), (2, 0.2500001)], ["a", "b"], [(0.25, 2), (0.5, 1)])


def test_backlog_is_a_function_of_the_seed():
    a, b = backlog.generate(7, 3, 8), backlog.generate(7, 3, 8)
    assert a.batches == b.batches and a.identifiers == b.identifiers
    assert backlog.generate(8, 3, 8).batches != a.batches


def test_sink_check_rejects_a_changed_document():
    bl = backlog.generate(7, 2, 8)
    exp = backlog.expectations(bl, 2)
    docs = [
        {"uri": u, "doc_type": k, "is_published": p} for u, (k, p) in exp["documents"].items()
    ]
    snap = {t: [()] * n for t, n in exp["counts"].items()}
    # what the sinks hold today: the rejected ids, the invalid ones lost
    dlq = list(exp["rejected"])
    assert workloads.check_sinks(snap, docs, dlq, exp) == ([], len(exp["invalid"]))
    docs[0]["is_published"] = not docs[0]["is_published"]
    assert workloads.check_sinks(snap, docs, dlq, exp)[0]
    docs[0]["is_published"] = not docs[0]["is_published"]
    assert workloads.check_sinks(snap, docs, dlq[1:], exp)[0]
    assert workloads.check_sinks(snap, docs, dlq + exp["invalid"][:1], exp)[0]
    # once the fault is mended the check says so, until the benchmark is updated
    assert workloads.check_sinks(snap, docs, dlq + exp["invalid"], exp)[0]
    snap["assets"] = snap["assets"][1:]
    assert workloads.check_sinks(snap, docs, dlq, exp)[0]
