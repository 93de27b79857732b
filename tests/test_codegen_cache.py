"""Generated code compiles once per plan shape.

Spark keeps the classes Janino compiles from whole-stage codegen in a
cache keyed by the generated source. At Spark's default of 100 entries,
a set of queries whose classes outnumber the cache evicts every class
before it is reused, so each repeat of a dashboard query ran Janino
again. `session.get_spark` sizes the cache to the registry's working set
(`CODEGEN_CACHE_ENTRIES`); repeating a set of queries then compiles
nothing.
"""

from __future__ import annotations

from kamiyo_hive_spark.plans.registry import load_registry

# About 200 generated classes at sf0.001 in a fresh JVM, twice Spark's
# default cache; each query's second run compiles nothing when its
# classes stay cached.
QUERIES = (
    "cust_order_distribution",
    "heavy_hitters_cms",
    "important_part_share",
    "incremental_rollup_merge",
    "local_supplier_volume",
    "merkle_root_customers",
    "moving_average_frame",
    "ohlc_hourly_candles",
    "scd2_point_in_time_enrich",
    "sql_surface_market_share",
    "training_corpus_prep",
)


def _compilations(spark) -> int:
    """Janino compilations in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, sf_dir) -> int:
    """Run every query in QUERIES once; return the compilations it made."""
    registry = load_registry()
    before = _compilations(spark)
    for name in QUERIES:
        registry[name].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compilations(spark) - before


def test_repeated_queries_compile_nothing(spark, sf_dir):
    _run_all(spark, sf_dir)
    assert _run_all(spark, sf_dir) == 0
