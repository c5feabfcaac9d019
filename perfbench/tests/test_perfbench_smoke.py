"""Tiny-scale end-to-end runs of every workload through the command
line, in both modes. Each starts its own Spark session (about 30 s)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import layers
import run
import workloads

RUN = os.path.join(os.path.dirname(run.__file__), "run.py")


def _run(tmp_path, *args):
    out = subprocess.run(
        [sys.executable, RUN, *args], cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    return out.returncode, out.stdout.strip().splitlines(), out.stderr


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_smoke(tmp_path, workload):
    trace = "1" if workload == "cdc_queue_merge" else "0"
    code, lines, err = _run(
        tmp_path, "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", trace, "--scale", "0.1",
    )
    assert code == 0, err[-3000:]
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = set(layers.PER_LAYER) if trace == "1" else set(run.END_TO_END)
    assert set(res["metrics"]) == want
    # the tracing overhead is a difference of two noisy walls
    assert all(m["value"] >= 0 for k, m in res["metrics"].items() if k != "trace.overhead_s")
    if trace == "1":
        assert res["metrics"]["runner.cycles"]["value"] > 0
        assert os.listdir(tmp_path / ".perfbench_out")
    assert not (tmp_path / ".perfbench_work").exists()


def test_unknown_workload_is_refused(tmp_path):
    code, lines, _err = _run(tmp_path, "--workload", "nope")
    assert code != 0 and not lines
