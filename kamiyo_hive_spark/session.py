"""SparkSession factory.

Local-mode defaults tuned for the test container (local[N], single JVM)
while keeping every setting cluster-safe: nothing here assumes a single
machine except the master URL, which is overridable.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries in Spark's generated-code cache (`CodeGenerator`, keyed by the
# generated source text; Spark's default is 100). Measured at sf0.01 on
# local[4]: the 27 timed `dashboard_pipeline` queries compile 388
# distinct classes, so at 100 entries the LRU evicted each class before
# its reuse and every warm pass re-ran Janino 374 times. One cold pass
# over all 234 bench queries compiles 2,674 distinct classes, so 4096
# holds the registry's whole working set with headroom
# (docs/BENCH_NOTES.md, "Generated-code cache").
CODEGEN_CACHE_ENTRIES = 4096


def quiet_query_context_logs() -> None:
    """Silence PySpark 4's Python-side exception loggers.

    pyspark.errors.exceptions.base._log_exception mirrors EVERY
    JVM-raised, Python-caught exception to stderr through the loggers
    named ``DataFrameQueryContextLogger`` / ``SQLQueryContextLogger`` —
    including exceptions the caller catches ON PURPOSE (the txlog
    conflict probes, optimistic-commit retries, capability probes; see
    docs/BENCH_NOTES.md "Benign ERROR lines"). The exception object
    still propagates to the caller unchanged, so dropping the log
    mirror loses nothing: a query that really fails still raises
    (bench.py stops at it; pytest and the drive scripts report it),
    while bench/drive stderr stops carrying scary JVM stack traces for
    survived probes."""
    for name in ("DataFrameQueryContextLogger", "SQLQueryContextLogger"):
        lg = logging.getLogger(name)
        lg.setLevel(logging.CRITICAL + 1)
        lg.propagate = False


def get_spark(
    app_name: str = "kamiyo-hive-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, broadcast-join demotion/promotion and
      skew-join splitting replace hand-tuned plans at any scale factor.
    - Session timezone pinned to UTC so event-time semantics match the
      DuckDB oracle (naive-UTC timestamps) bit-for-bit.
    - Arrow enabled for every pandas interchange (toPandas, pandas UDFs).
    - Generated-code cache sized to the registry's working set
      (``CODEGEN_CACHE_ENTRIES``): a repeated query shape reuses its
      compiled classes instead of re-running Janino. The cache is a
      static conf of the JVM, so it takes effect only when this call
      creates the session.
    - Opt-in persistent metastore: ``SPARK_GRAFT_HIVE=1`` enables Hive
      support over a local Derby metastore (path pinned by
      ``SPARK_GRAFT_METASTORE_DIR``, default ``metastore`` under
      ``sinks.SCRATCH``), so
      `init_warehouse` DDL survives session restarts — the local twin
      of the cluster deployment's shared Hive metastore. Default stays
      the in-memory catalog: Derby allows ONE process at a time, which
      would serialize parallel test runs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory partition size when coalescing instead of
        # preserving parallelism: sub-second inputs collapse to a few
        # real tasks (measured ~10% off the per-query floor at sf0.1)
        # and at warehouse scale it is the setting that actually honors
        # the 64 MB advisory target.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_HIVE") == "1":
        from kamiyo_hive_spark.sources import sinks

        ms_dir = os.environ.get(
            "SPARK_GRAFT_METASTORE_DIR", os.path.join(sinks.SCRATCH, "metastore")
        )
        os.makedirs(ms_dir, exist_ok=True)
        builder = (
            builder.config("spark.sql.catalogImplementation", "hive")
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={ms_dir}/metastore_db;create=true",
            )
            .config("spark.sql.warehouse.dir", f"{ms_dir}/warehouse")
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quiet_query_context_logs()
    # FileStreamSink.hasMetadata logs a WARN *with a full JVM stack
    # trace* whenever a read probes a not-yet-existing path — a benign
    # condition the callers handle. Raise just that logger to ERROR so
    # bench/drive stderr stays readable; real failures still surface as
    # exceptions to Python.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j2 core absent/renamed: cosmetic only, never fatal
    return spark
