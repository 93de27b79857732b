#!/usr/bin/env python3
"""Benchmark of the kamiyo_hive_spark engine: one workload, one run.

    python3 perfbench/run.py --workload dashboard_pipeline --seed 1 --seconds 10 --trace 0

One client drives the workload's queries in a closed loop (the next
request starts when the previous one has finished) on ``local[nproc]``.
A request is the query's builder call plus a ``noop`` write of the frame
it returns. The run:

1. generates the input tables once per checkout (``datagen.py``);
2. sets up: starts the session in a fresh scratch root, registers the
   warehouse, and runs every query of the sample once, comparing its
   output with its DuckDB oracle (this pass also stages every pool),
   then makes the workload's ``WARMUP_PASSES`` untimed passes;
3. runs timed passes over the sample, each in an order drawn from
   ``--seed``: as many as ``--seconds`` allows at ``NOMINAL_RATE``
   requests a second, and at least ``MIN_PASSES``.

Human-readable lines go to stdout first; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see DESIGN.md).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from datagen import ensure_data  # noqa: E402
from layers import (  # noqa: E402
    PHASE_OFF,
    PHASE_SETUP,
    PHASE_TRACED,
    Tracer,
    Window,
    parse_event_log,
)
from workloads import ALL_MODULES, WORKLOADS, sample, workload_queries  # noqa: E402

SF = 0.01
# A run makes as many passes as --seconds allows at this nominal request
# rate, so its work does not depend on how fast the host is that minute,
# and at least the workload's MIN_PASSES, so that pass_s and cpu_s are
# medians where the run budget allows. One dashboard_pipeline pass takes
# about 12 s after a set-up of about 45 s, which leaves no room for a
# second within the ~70 s a run may take (see DESIGN.md).
NOMINAL_RATE = 2.0
MIN_PASSES = {"dashboard_pipeline": 1, "acid_stream": 4}
# Untimed passes after the check pass. An acid_stream pass still runs
# about a quarter slower right after the check pass than three passes
# later, while the JIT compiles the write and streaming paths, and how
# fast that falls differs from process to process; two passes take the
# timed ones past the steep part (see DESIGN.md).
WARMUP_PASSES = {"dashboard_pipeline": 0, "acid_stream": 2}
# A traced run makes a traced, an untraced and a traced pass, so a steady
# drift across the run cancels out of the tracing overhead.
TRACED_PASSES = (True, False, True)
DRIVER_MEM = "2g"


def metric_units(trace: int) -> dict[str, str]:
    """The run's metric names and units, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def redirect_hardcoded_scratch(module, default: str, scratch: str) -> None:
    """Point the string constants in ``module``'s functions that start with
    the ``default`` scratch root at ``scratch`` instead, so a run writes
    only inside its own root. The functions are changed in place, so
    callers that imported them by name see the change too."""

    def rewrite(code):
        consts = tuple(
            rewrite(c)
            if hasattr(c, "co_consts")
            else c.replace(default, scratch, 1)
            if isinstance(c, str) and c.startswith(default)
            else c
            for c in code.co_consts
        )
        return code.replace(co_consts=consts)

    for obj in vars(module).values():
        if getattr(obj, "__module__", None) == module.__name__ and hasattr(obj, "__code__"):
            obj.__code__ = rewrite(obj.__code__)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a mean of all order
    statistics, weighted by the Beta((n+1)q, (n+1)(1-q)) mass over each
    one's rank interval. With the 20-odd requests of a run, a single
    order statistic jumps whenever two neighbouring requests swap
    places; this estimate moves smoothly."""
    x = sorted(values)
    n, steps = len(x), 200
    a, b = q * (n + 1), (1 - q) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    weights = []
    for i in range(n):  # midpoint rule over [i/n, (i+1)/n]
        ts = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(
            sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)) for t in ts)
        )
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


class Run:
    def __init__(self, args: argparse.Namespace, data_dir: str, run_dir: str):
        self.args = args
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.scratch = os.path.join(run_dir, "scratch")
        self.tmp = os.path.join(run_dir, "tmp")
        self.event_dir = os.path.join(run_dir, "eventlog")
        for d in (self.scratch, self.tmp, self.event_dir):
            os.makedirs(d)
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.tracer = None

    # -- set-up ---------------------------------------------------------

    def load_engine(self):
        if self.args.trace:
            self.tracer = Tracer()
            self.tracer.install()
        from kamiyo_hive_spark.sources import sinks
        from kamiyo_hive_spark.streaming import jobs

        # `streaming/jobs.py` spells the default root out in three paths
        # instead of reading `sinks.SCRATCH`; move those too.
        redirect_hardcoded_scratch(jobs, sinks.SCRATCH, self.scratch)
        sinks.SCRATCH = self.scratch
        from kamiyo_hive_spark.plans.registry import load_registry

        return load_registry()

    def start_session(self):
        from kamiyo_hive_spark.session import get_spark

        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # No hsperfdata file under the host's /tmp; compiler threads that
            # live as long as the JVM (see procstat.tree_cpu_s); a fixed heap,
            # so heap sizing does not differ from run to run.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}"
            f" -Dderby.system.home={self.tmp} -XX:-UsePerfData"
            f" -XX:-UseDynamicNumberOfCompilerThreads -Xms{DRIVER_MEM}",
        }
        if self.args.trace:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.event_dir,
            }
        ncpu = len(os.sched_getaffinity(0))
        return get_spark(
            app_name=f"perfbench-{self.args.workload}", master=f"local[{ncpu}]", extra_conf=conf
        )

    def check(self, spark, registry, queries) -> None:
        """Run each query once, outside the timed passes, and compare its
        output with its DuckDB oracle (rows-only where it has none)."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from drive_common import compare_query, duck_views

        con = duckdb.connect()
        duck_views(con, self.data_dir)
        try:
            for name, _ in queries:
                spec = registry[name]
                self.attempted += 1
                try:
                    rec = compare_query(spark, con, spec.builder, spec.oracle, self.data_dir)
                except Exception:
                    self.fail(name, "check raised: " + traceback.format_exc(limit=-1).strip())
                    continue
                if not rec["pass"]:
                    keys = ("rows_spark", "rows_oracle", "rows_ok", "schema_ok", "hash_ok")
                    detail = {k: rec[k] for k in keys if k in rec}
                    self.fail(name, f"output differs from its oracle: {detail}")
        finally:
            con.close()

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.setdefault(name, why)

    # -- closed-loop passes ---------------------------------------------

    def request(self, spark, spec, group: str | None):
        """One closed-loop request: (build_s, exec_s), or None if it raised."""
        if group is not None:
            spark.sparkContext.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            frame = spec.builder(spark, self.data_dir)
            t1 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            self.fail(spec.name, "request raised: " + traceback.format_exc(limit=-1).strip())
            return None
        finally:
            if group is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return t1 - t0, t2 - t1

    @staticmethod
    def unpersist_since(jsc, keep: set) -> None:
        """Free what the last request cached, keeping the RDDs in ``keep``
        (the set-up's pools): orphaned blocks would otherwise squeeze
        later passes."""
        for rdd_id, jrdd in jsc.getPersistentRDDs().items():
            if rdd_id not in keep:
                jrdd.unpersist(False)

    def warm_up(self, spark, registry, queries) -> None:
        """The workload's ``WARMUP_PASSES``: untimed passes in name order."""
        jsc = spark.sparkContext._jsc
        keep = set(jsc.getPersistentRDDs())
        for _ in range(WARMUP_PASSES[self.args.workload]):
            for name, _module in queries:
                self.attempted += 1
                self.request(spark, registry[name], None)
                self.unpersist_since(jsc, keep)

    def timed_passes(self, spark, registry, queries) -> list[dict]:
        """Closed-loop passes: ``--seconds`` worth at ``NOMINAL_RATE``, at
        least ``MIN_PASSES``; a traced run makes the ``TRACED_PASSES``
        sequence."""
        jsc = spark.sparkContext._jsc
        keep = set(jsc.getPersistentRDDs())
        rng = random.Random(self.args.seed)
        n_passes = (
            len(TRACED_PASSES)
            if self.args.trace
            else max(
                MIN_PASSES[self.args.workload],
                math.ceil(NOMINAL_RATE * self.args.seconds / len(queries)),
            )
        )
        passes: list[dict] = []
        while len(passes) < n_passes:
            traced = bool(self.args.trace) and TRACED_PASSES[len(passes)]
            if self.tracer is not None:
                self.tracer.phase = PHASE_TRACED if traced else PHASE_OFF
            order = list(queries)
            rng.shuffle(order)
            rec = {"traced": traced, "latencies": [], "requests": [], "windows": []}
            cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            for i, (name, module) in enumerate(order):
                group = f"perfbench-{len(passes)}-{i}" if traced else None
                start_ms = time.time() * 1000.0
                self.attempted += 1
                timing = self.request(spark, registry[name], group)
                if timing is not None:
                    rec["latencies"].append(sum(timing))
                    rec["requests"].append((module, *timing))
                if traced:
                    rec["windows"].append(Window(group, module, start_ms, time.time() * 1000.0))
                self.unpersist_since(jsc, keep)
                self.peak_rss_mb = max(self.peak_rss_mb, procstat.tree_rss_mb())
            rec["wall_s"] = time.perf_counter() - t0
            cpu1 = procstat.tree_cpu_s()
            rec["jit_s"] = cpu1[1] - cpu0[1]
            rec["cpu_s"] = cpu1[0] - cpu0[0] - rec["jit_s"]
            passes.append(rec)
        return passes

    # -- the run ---------------------------------------------------------

    @staticmethod
    def stop(spark) -> None:
        """Stop the session and the JVM, and wait until every process the
        session started (the JVM, its Python workers) has ended."""
        from pyspark import SparkContext

        started = [p for p in procstat.tree_pids() if p != os.getpid()]
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait()
        procstat.wait_gone(started, timeout_s=30)

    def execute(self, gen_s: float) -> dict:
        registry = self.load_engine()
        queries = sample(workload_queries(registry, self.args.workload))
        t = time.perf_counter()
        spark = self.start_session()
        session_s = time.perf_counter() - t
        try:
            from kamiyo_hive_spark.warehouse import init_warehouse

            # Only the `warehouse` module's queries read the registered
            # tables, so only a workload holding it pays for registration.
            warehouse_s = 0.0
            if "warehouse" in WORKLOADS[self.args.workload]:
                t = time.perf_counter()
                init_warehouse(spark, self.data_dir)
                warehouse_s = time.perf_counter() - t
            t = time.perf_counter()
            self.check(spark, registry, queries)
            check_s = time.perf_counter() - t
            self.peak_rss_mb = procstat.tree_rss_mb()
            t = time.perf_counter()
            self.warm_up(spark, registry, queries)
            warmup_s = time.perf_counter() - t
            t_first = time.perf_counter()
            steal0 = procstat.host_cpu_ticks()
            passes = self.timed_passes(spark, registry, queries)
            steal1 = procstat.host_cpu_ticks()
        finally:
            self.stop(spark)
        out = {
            "queries": len(queries),
            "passes": passes,
            "setup_s": t_first - T_PROCESS - gen_s,
            "session_s": session_s,
            "warehouse_s": warehouse_s,
            "check_s": check_s,
            "warmup_s": warmup_s,
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        }
        return out


def end_to_end(res: dict, peak_rss_mb: float) -> dict[str, float]:
    passes = res["passes"]
    lat = [x for p in passes for x in p["latencies"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "latency_p50_s": hd_quantile(lat, 0.5),
        "latency_p90_s": hd_quantile(lat, 0.9),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(res: dict, run: Run) -> dict[str, float]:
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    n = len(traced)
    # A module outside the workload reads 0.
    values = {f"{m}.{k}": 0.0 for m in ALL_MODULES for k in ("build_s", "exec_s")}
    for p in traced:
        for module, build_s, exec_s in p["requests"]:
            values[f"{module}.build_s"] += build_s / n
            values[f"{module}.exec_s"] += exec_s / n
    log = parse_event_log(run.event_dir, [w for p in traced for w in p["windows"]])
    for module, count in log["jobs"].items():
        values[f"{module}.jobs"] = count / n
    for name, v in log["executor"].items():
        values[f"executor.{name}"] = v / n
    for name, v in log["stream"].items():
        key = f"streaming.{name}" if name in ("batches", "input_rows") else f"streaming.{name}_ms"
        values[key] = v / n
    staging = run.tracer.counter("ensure_staging", PHASE_SETUP)
    values["sources.sinks.ensure_staging.calls"] = staging.calls
    values["sources.sinks.ensure_staging.hits"] = staging.hits
    values["sources.sinks.ensure_staging.build_s"] = staging.seconds
    values["sources.sinks.fresh_staging.s"] = run.tracer.counter("fresh_staging", PHASE_TRACED).seconds / n
    table = run.tracer.counter("table", PHASE_TRACED)
    values["catalog.table.calls"] = table.calls / n
    values["catalog.table.s"] = table.seconds / n
    values["jvm.jit_s"] = sum(p["jit_s"] for p in traced) / n
    values["session.get_spark_s"] = res["session_s"]
    values["warehouse.init_warehouse_s"] = res["warehouse_s"]
    values["host.steal_frac"] = res["steal_frac"]
    values["trace_overhead"] = statistics.mean(p["wall_s"] for p in traced) / statistics.mean(
        p["wall_s"] for p in plain
    )
    return values


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # Python salts str hashes per process, which reorders set and dict
        # iteration in plan-building code from run to run. Pin it for this
        # process and the Python workers the JVM forks.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "kamiyo_hive_spark", "__init__.py")):
        print(f"perfbench: no kamiyo_hive_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    t = time.perf_counter()
    data_dir = ensure_data(os.path.join(work, "data"), SF)
    gen_s = time.perf_counter() - t
    run_dir = os.path.join(work, "runs", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    run = Run(args, data_dir, run_dir)
    try:
        res = run.execute(gen_s)
        metrics = per_layer(res, run) if args.trace else end_to_end(res, run.peak_rss_mb)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = metric_units(args.trace)
    if set(metrics) != set(units):
        diff = sorted(set(metrics) ^ set(units))
        print(f"perfbench: metrics differ from BENCHMARK.json: {diff}", file=sys.stderr)
        return 3
    metrics = {name: metrics[name] for name in units}
    lat_n = sum(len(p["latencies"]) for p in res["passes"])
    print(
        f"workload={args.workload} seed={args.seed} sf={SF:g} queries={res['queries']}"
        f" passes={len(res['passes'])} latency_samples={lat_n}"
    )
    print(
        f"setup: get_spark {res['session_s']:.2f} s, init_warehouse {res['warehouse_s']:.2f} s,"
        f" check pass {res['check_s']:.2f} s,"
        f" {WARMUP_PASSES[args.workload]} warm-up passes {res['warmup_s']:.2f} s"
    )
    print(f"host.steal_frac {res['steal_frac']:.4f} fraction")
    print(f"failed_frac {run.failed / run.attempted:.4f} fraction ({run.failed}/{run.attempted})")
    for name, why in sorted(run.errors.items()):
        print(f"FAILED {name}: {why}")
    for name, v in metrics.items():
        print(f"{name} {v:.6g} {units[name]}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
