"""Workload definitions: which registry queries each workload runs.

A workload is a set of engine modules. Its queries are the registry's
``bench=True`` queries whose builder lives in one of those modules, so a
new query joins a workload through its module and no query is named
here. The three module sets partition the bench queries.

A run times a fixed, stratified sample of its workload: from each
module, the ``ceil(n / STRIDE)`` queries whose names hash lowest. The
sample is a function of the registry alone, so every run and every seed
times the same queries; the seed only permutes their order in each
pass. The stride keeps one pass short enough that a run, with its
start-up, fits the benchmark's time budget (see DESIGN.md).
"""

from __future__ import annotations

import hashlib
import math

PACKAGE = "kamiyo_hive_spark"

# Read-only SQL: Catalyst planning, the per-job scheduling floor and the
# SQL executors; no Python workers, no writes, no streams.
SQL_DASHBOARD = (
    "operators.aggregates",
    "operators.analytics",
    "operators.asof",
    "operators.joins",
    "operators.profiling",
    "operators.relational",
    "operators.scalars",
    "operators.setops",
    "operators.sketches",
    "operators.timeseries",
    "operators.tpch_extra",
    "operators.windows",
    "warehouse",
)
# LLM-data curation: Python workers (mapInPandas, pandas UDFs), eager
# driver loops and pools staged once per input.
DATA_PIPELINE = (
    "operators.clustering",
    "operators.corpus",
    "operators.dedup",
    "operators.llm_pipeline",
    "operators.merkle",
    "operators.multimodal",
    "operators.pipelines",
    "operators.quality",
    "operators.retrieval",
    "operators.sampling",
    "operators.semistructured",
    "operators.similarity",
    "operators.text",
)
# The write path (ACID commits, copy-on-write rewrites, compaction, with
# change-feed and time-travel reads) and stateful micro-batch streams.
ACID_STREAM = (
    "sources.txlog",
    "sources.sinks",
    "sources.layout",
    "sources.maintenance",
    "sources.skipping",
    "streaming.jobs",
    "operators.stateful",
)
WORKLOADS: dict[str, tuple[str, ...]] = {
    "dashboard_pipeline": SQL_DASHBOARD + DATA_PIPELINE,
    "acid_stream": ACID_STREAM,
}

STRIDE = 16
ALL_MODULES: tuple[str, ...] = tuple(m for mods in WORKLOADS.values() for m in mods)


def module_of(spec) -> str:
    """The layer name of a query: its builder's module, package prefix
    dropped (``operators.joins``, ``sources.txlog``, ``warehouse``)."""
    return spec.builder.__module__.removeprefix(PACKAGE + ".")


def _rank(name: str) -> str:
    return hashlib.sha256(name.encode()).hexdigest()


def workload_queries(registry, workload: str) -> list[tuple[str, str]]:
    """Every bench query of ``workload`` as sorted ``(name, module)``."""
    modules = set(WORKLOADS[workload])
    return sorted(
        (name, module_of(spec))
        for name, spec in registry.items()
        if spec.bench and module_of(spec) in modules
    )


def sample(queries: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """The stratified hash sample of ``queries`` that a run times."""
    by_module: dict[str, list[str]] = {}
    for name, module in queries:
        by_module.setdefault(module, []).append(name)
    picked = []
    for module, names in by_module.items():
        keep = math.ceil(len(names) / STRIDE)
        picked += [(n, module) for n in sorted(names, key=_rank)[:keep]]
    return sorted(picked)
