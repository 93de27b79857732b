"""Per-layer tracing for a ``--trace 1`` run, all from outside the engine.

Three sources, none of which needs a change to ``kamiyo_hive_spark``:

- wrappers the benchmark installs around ``catalog.table`` and the
  ``sources.sinks`` staging functions (count and time the calls);
- ``setJobGroup`` tags on every traced request, so each Spark job in the
  event log names the request that ran it;
- Spark's uncompressed event log, parsed after the session stops: job
  starts, task metrics and streaming progress events.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

from workloads import ALL_MODULES

PHASE_SETUP = "setup"
PHASE_TRACED = "traced"
PHASE_OFF = "off"

EXECUTOR_METRICS = (
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
STREAM_PHASES = (
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
)
_PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Counter:
    calls: int = 0
    hits: int = 0
    seconds: float = 0.0


@dataclass
class Tracer:
    """Counts and times calls into wrapped engine functions, by phase."""

    phase: str = PHASE_SETUP
    counters: dict[tuple[str, str], Counter] = field(default_factory=dict)

    def counter(self, name: str, phase: str | None = None) -> Counter:
        return self.counters.setdefault((name, phase or self.phase), Counter())

    def _timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            c = self.counter(name)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                c.calls += 1
                c.seconds += time.perf_counter() - t0

        return wrapper

    def _staging(self, fn, current):
        @functools.wraps(fn)
        def wrapper(out, source, build):
            c = self.counter("ensure_staging")
            c.calls += 1
            if current(out, source):
                c.hits += 1
                return fn(out, source, build)
            t0 = time.perf_counter()
            try:
                return fn(out, source, build)
            finally:
                c.seconds += time.perf_counter() - t0

        return wrapper

    def install(self) -> None:
        """Wrap the engine functions. Must run before any module that
        binds them by name (``from ... import table``) is imported, which
        is before ``load_registry()`` and before ``sources.sinks``."""
        from kamiyo_hive_spark import catalog

        catalog.table = self._timed("table", catalog.table)
        from kamiyo_hive_spark.sources import sinks

        sinks.ensure_staging = self._staging(sinks.ensure_staging, sinks.staging_current)
        sinks.fresh_staging = self._timed("fresh_staging", sinks.fresh_staging)


@dataclass
class Window:
    """One traced request: its wall-clock span in epoch milliseconds."""

    group: str
    module: str
    start_ms: float
    end_ms: float


def _module_at(windows: list[Window], t_ms: float) -> str | None:
    for w in windows:
        if w.start_ms <= t_ms <= w.end_ms:
            return w.module
    return None


def _iso_ms(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


def parse_event_log(log_dir: str, windows: list[Window]) -> dict:
    """Attribute the event log's jobs, tasks and streaming progress to the
    traced requests in ``windows``.

    A job belongs to the request whose job group it carries. Jobs that a
    streaming query runs on its own thread carry the stream's group
    instead; those belong to the request whose span holds their
    submission time, as do streaming progress events."""
    by_group = {w.group: w.module for w in windows}
    jobs = {m: 0 for m in ALL_MODULES}
    stage_traced: set[int] = set()
    executor = dict.fromkeys(EXECUTOR_METRICS, 0)
    stream = {"batches": 0, "input_rows": 0} | {p: 0 for p in STREAM_PHASES}
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                module = by_group.get(group) or _module_at(windows, ev["Submission Time"])
                if module is not None:
                    jobs[module] += 1
                    stage_traced.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_traced:
                m = ev.get("Task Metrics") or {}
                shuffle_read = m.get("Shuffle Read Metrics", {})
                executor["tasks"] += 1
                executor["run_ms"] += m.get("Executor Run Time", 0)
                executor["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                executor["gc_ms"] += m.get("JVM GC Time", 0)
                executor["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                executor["shuffle_read_bytes"] += shuffle_read.get(
                    "Remote Bytes Read", 0
                ) + shuffle_read.get("Local Bytes Read", 0)
                executor["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                executor["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
            elif kind == _PROGRESS_EVENT:
                progress = ev["progress"]
                if _module_at(windows, _iso_ms(progress["timestamp"])) is None:
                    continue
                stream["batches"] += 1
                stream["input_rows"] += sum(src["numInputRows"] for src in progress["sources"])
                for phase in STREAM_PHASES:
                    stream[phase] += progress.get("durationMs", {}).get(phase, 0)
    return {"jobs": jobs, "executor": executor, "stream": stream}
