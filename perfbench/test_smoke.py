"""Smoke tests of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

The subprocess tests run every workload at smoke scale (tiny inputs) in
both modes and check the result line against BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import Run, labels_checksum  # noqa: E402
from perfbench.workloads import events_truth, pair_prf, split_drops  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True, p.stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == \
        {k: m["unit"] for k, m in result["metrics"].items()}
    if trace == "0":
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["trace.counter_mismatches"]["value"] == 0


def test_fails_without_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
             "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_pair_prf():
    truth = {"a": "a", "a_dup": "a", "b": "b", "c": "c"}
    assert pair_prf(dict(truth), truth) == (1.0, 1.0, 1.0)
    # one missed twin, one false merge: tp=0 of 1 true and 1 predicted pair
    assert pair_prf({"a": "a", "a_dup": "x", "b": "b", "c": "b"},
                    truth) == (0.0, 0.0, 0.0)
    # missing labels count as singletons: nothing predicted, nothing found
    assert pair_prf({}, truth) == (1.0, 0.0, 0.0)


def test_recorded_checksum_mismatch_fails(tmp_path):
    """Same clusters under other cluster ids keep F1 at 1.0; only the
    checksum recorded for the seed catches the change."""
    run = Run(argparse.Namespace(workload="events_dedup", seed=1, seconds=1,
                                 trace=0, smoke=True), str(tmp_path))
    truth = {"a": "a", "a_dup": "a", "b": "b"}
    run.expected = labels_checksum(truth)
    run.check_labels("op0", dict(truth), truth)
    assert run.correct and run.failed == 0
    run.checksums.clear()
    run.check_labels("op1", {"a": "a_dup", "a_dup": "a_dup", "b": "b"}, truth)
    assert run.f1 == 1.0
    assert not run.correct and run.failed == 1


def test_checksums_recorded_for_every_workload():
    with open(os.path.join(HERE, "checksums.json")) as fh:
        recorded = json.load(fh)
    assert set(recorded) == {w["name"] for w in SPEC["workloads"]}
    assert all(len(d) == 16 for seeds in recorded.values()
               for d in seeds.values())


def test_events_truth_and_split_are_seeded():
    assert events_truth(["conv_1_0", "conv_1_0_dup", "conv_2_0_nd"]) == {
        "conv_1_0": "conv_1_0", "conv_1_0_dup": "conv_1_0",
        "conv_2_0_nd": "conv_2_0",
    }
    rows = {f"c{i}": 1 + i % 3 for i in range(50)}
    base, drops = split_drops(rows, 2, 10, seed=7)
    assert (base, drops) == split_drops(dict(reversed(rows.items())), 2, 10,
                                        seed=7)
    assert all(sum(rows[c] for c in d) == 10 for d in drops)
    assert base | set(drops[0]) | set(drops[1]) == set(rows)
    assert all(base.isdisjoint(d) for d in drops)
