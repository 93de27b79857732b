"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The run tests start short runs of each workload in a subprocess, exactly
as the benchmark command line does, and take about six minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from datagen import build_tables  # noqa: E402
from workloads import ALL_MODULES, WORKLOADS, sample, workload_queries  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", "1",
            "--trace", str(trace),
        ],
        cwd=ROOT,
        check=True,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=600,
    )
    return json.loads(out.stdout.splitlines()[-1])


def _units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def test_workloads_partition_the_bench_queries():
    from kamiyo_hive_spark.plans.registry import load_registry

    registry = load_registry()
    assert len(set(ALL_MODULES)) == len(ALL_MODULES)
    covered = [q for w in WORKLOADS for q in workload_queries(registry, w)]
    assert sorted(covered) == sorted(
        set(covered)
    ), "a query sits in two workloads"
    assert len(covered) == sum(spec.bench for spec in registry.values())
    for w in WORKLOADS:
        picked = sample(workload_queries(registry, w))
        assert {m for _, m in picked} == set(WORKLOADS[w]), "a module has no timed query"
        assert picked == sample(workload_queries(registry, w))


def test_generated_tables_match_the_engine_schemas():
    from kamiyo_hive_spark.catalog import SCHEMAS

    a, b = build_tables(0.001), build_tables(0.001)
    assert set(a) == set(SCHEMAS)
    for name, table in a.items():
        assert table.equals(b[name]), f"{name} is not deterministic"
        assert table.num_rows > 0
        assert table.column_names == SCHEMAS[name].fieldNames()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result = _run(workload, seed=1, trace=0)
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert result["failed"] == 0 and result["correct"] is True
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_runs_report_the_layers_and_repeat_job_counts(workload):
    first, second = _run(workload, seed=1, trace=1), _run(workload, seed=2, trace=1)
    assert _units(first) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert first["failed"] == 0 and second["failed"] == 0
    jobs = {
        name: (first["metrics"][name]["value"], second["metrics"][name]["value"])
        for name in first["metrics"]
        if name.endswith(".jobs")
    }
    assert all(a == b for a, b in jobs.values()), jobs
    mine = {f"{m}.jobs" for m in WORKLOADS[workload]}
    assert all(jobs[name][0] > 0 for name in mine)
    assert first["metrics"]["trace_overhead"]["value"] > 0
