"""Tests of the benchmark itself, at the tiny fixture scale.

    python -m pytest perfbench -q

Each workload runs once, traced, and must print every end-to-end and
per-layer metric by name with its unit; a query made to fail must show in
``failed_ratio``; the harness must refuse to run without the package.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import _union_s  # noqa: E402
from oracle import result_hash  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "0", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _printed(stdout: str) -> dict[str, tuple[float, str]]:
    return {m.group(1): (float(m.group(2)), m.group(3))
            for m in re.finditer(r"^([\w.]+): (-?\d[\d.e+-]*) (\S+)", stdout, re.M)}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_every_metric(workload):
    r = _run("--workload", workload, "--trace", "1", "--tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    printed = _printed(r.stdout)
    for name, unit in {**END_TO_END, **PER_LAYER, "failed_ratio": "ratio"}.items():
        assert name in printed, f"{name} not printed"
        assert printed[name][1] == unit, f"{name} printed with unit {printed[name][1]}"
    assert "oracle: all results match DuckDB" in r.stdout
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(PER_LAYER)
    assert printed["collect.result_rows"][0] > 0
    assert printed["exec.tasks"][0] > 0
    assert printed["client.pass_cpu_s"][0] >= printed["jit.compile_cpu_s"][0] > 0
    # One line per query; its four phases add up to the query's wall time.
    rows = re.findall(r"^  (\w+): wall (\S+) s = build (\S+) \+ plan (\S+) \+ "
                      r"execute (\S+) \+ collect (\S+)", r.stdout, re.M)
    assert sorted(q for q, *_ in rows) == sorted(WORKLOADS[workload].queries)
    for qid, wall, *phases in rows:
        parts = [float(x) for x in phases]
        assert min(parts) >= 0, f"{qid}: negative phase {parts}"
        assert abs(sum(parts) - float(wall)) <= 0.1 * float(wall), qid


def test_untraced_run_reports_end_to_end_metrics():
    r = _run("--workload", "llm_dedup", "--trace", "0", "--tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(result["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
    assert _printed(r.stdout)["failed_ratio"][0] == 0


def test_failing_query_raises_failed_ratio():
    r = _run("--workload", "lake_writes", "--trace", "0", "--tiny",
             "--break-query", "a_cdc_upsert")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert not result["correct"]
    # once in every pass: the warm-up pass and each measured pass
    assert result["failed"] == result["attempted"] // len(WORKLOADS["lake_writes"].queries)
    assert _printed(r.stdout)["failed_ratio"][0] == pytest.approx(
        result["failed"] / result["attempted"])
    assert "FAILED a_cdc_upsert" in r.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = _run("--workload", "llm_dedup", "--trace", "0", cwd=str(tmp_path))
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_result_hash_ignores_row_order_and_engine_types():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 3.0], "d": pd.to_datetime(["2024-01-01", None])})
    b = pd.DataFrame({"d": [None, pd.Timestamp("2024-01-01").date()],
                      "v": [3, 0.5], "k": [2.0, 1.0]})
    assert result_hash(a) == result_hash(b)
    assert result_hash(a) != result_hash(a.assign(v=[0.5, 3.5]))
    assert result_hash(a) != result_hash(a.iloc[:1])


def test_union_of_job_intervals():
    assert _union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_s([]) == 0
