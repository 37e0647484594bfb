"""The benchmark's own tests. The Spark-backed ones run the benchmark at
--scale tiny and take about six minutes in all:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def run_bench(*args: str, cwd: str = ROOT) -> tuple[int, list]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=240)
    return p.returncode, p.stdout.strip().splitlines()


def tiny(workload: str, trace: int, *extra: str) -> tuple[dict, list]:
    rc, lines = run_bench("--workload", workload, "--seed", "7",
                          "--seconds", "2", "--trace", str(trace),
                          "--scale", "tiny", *extra)
    assert rc == 0, lines[-20:]
    return json.loads(lines[-1]), lines


def knn_jobs(lines: list) -> dict:
    """cycle -> Spark jobs of that cycle's kNN call (warm-up is -1)."""
    rows = json.loads(next(ln for ln in lines
                           if ln.startswith("# trace-calls "))
                      .removeprefix("# trace-calls "))
    return {r["cycle"]: r["jobs"] for r in rows
            if r["call"] == "knn" and r["cycle"] >= -1}


def extra(lines: list, name: str) -> str:
    return next(ln for ln in lines if ln.startswith(f"# {name} ")).split()[-1]


@pytest.fixture(scope="module")
def traced_update_mix():
    return tiny("update-mix", 1)


# ------------------------------------------------------------ no Spark

def test_union_clips_and_merges_job_intervals():
    iv = [(0, 10), (5, 20), (30, 40), (-5, 2)]
    assert eventlog._union_ms(iv, 0, 35) == 25  # [0,20] + [30,35]
    ctr = eventlog.call_counters({"a": iv}, {}, "a", 0, 50)
    assert ctr["jobs"] == 4 and ctr["driver_gap_s"] == pytest.approx(0.02)


def test_knn_oracle_breaks_ties_by_pid():
    live = oracle.LiveSet(np.array([5, 3, 9]), np.array([1, -1, 0]),
                          np.array([0, 0, 1]))
    got = oracle.knn_rows(live, np.array([0]), np.array([0]),
                          np.array([0]), 2)
    assert got["nid"].tolist() == [3, 5]  # 3 and 5 both at distance 1


def test_dbscan_oracle_core_border_noise():
    # a core triple, one border point within eps of one core, one far away
    pid = np.array([10, 11, 12, 13, 14])
    x = np.array([0, 1, 2, 4, 100])
    y = np.zeros(5, np.int64)
    got = oracle.dbscan_labels(pid, x, y, eps=2, min_pts=3)
    assert got["kind"].tolist() == ["core", "core", "core", "border", "noise"]
    assert got["cluster"].tolist() == [10, 10, 10, 10, -1]
    assert oracle.check_dbscan(pd.DataFrame(
        {"pid": pid, "cluster": [10, 10, 10, 10, None],
         "kind": got["kind"]}), got) == ""


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = run_bench("--workload", "cluster", "--seed", "1",
                          "--seconds", "1", "--trace", "0",
                          cwd=str(tmp_path))
    assert rc != 0 and not lines


# ---------------------------------------------------------- with Spark

@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_print_with_units(workload):
    res, _ = tiny(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_per_layer_metrics_print_with_units(traced_update_mix):
    res, lines = traced_update_mix
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert any(ln.startswith("# knn-frags ") for ln in lines)


def test_injected_wrong_answer_is_counted():
    res, lines = tiny("update-mix", 0, "--inject-wrong")
    assert not res["correct"] and res["failed"] >= 1
    assert any(ln.startswith("# FAILED") for ln in lines)


def test_knn_counters_repeat_exactly(traced_update_mix):
    # the run length is timed, so compare the cycles both runs reached
    _, first = traced_update_mix
    _, second = tiny("update-mix", 1)
    a, b = knn_jobs(first), knn_jobs(second)
    both = sorted(set(a) & set(b))
    assert len(both) >= 2 and [a[c] for c in both] == [b[c] for c in both]
    assert (extra(first, "knn.cells_per_query")
            == extra(second, "knn.cells_per_query"))
