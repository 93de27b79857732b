"""Table catalog: explicit schemas + readers for the testdata star schema.

Production rule (SURVEY §1.3): no schema inference. Every table has a
declared ``StructType``; readers enforce it so column pruning and filter
pushdown operate on a stable schema at any scale factor.

At 100 TB these tables would be date/key-partitioned directories; the
reader API takes a directory so swapping a single parquet file for a
partitioned layout is a zero-code change for every operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# events.ts has been written two ways across testdata generations:
# Parquet TIMESTAMP(NANOS) — which Spark cannot read as TimestampType
# (µs) and needs the nanosAsLong legacy read + ns→µs convert — and
# plain TIMESTAMP(MICROS), which reads natively. Sniff the physical
# type from the parquet footer (one metadata read, cached per path) so
# either generation is read losslessly and identically to DuckDB.
_EVENTS_READ_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Keyed on (path, mtime_ns, size): the driver regenerates testdata in
# place between rounds, and events.parquet exists in both ns and µs
# generations — a path-only cache would apply the wrong unit after a
# regeneration at the same path.
_EVENTS_TS_IS_NANOS: dict[tuple[str, int, int], bool] = {}


def _events_ts_is_nanos(path: str) -> bool:
    import os

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    if key not in _EVENTS_TS_IS_NANOS:
        import pyarrow.parquet as pq

        ts_type = pq.read_schema(path).field("ts").type
        _EVENTS_TS_IS_NANOS[key] = getattr(ts_type, "unit", None) == "ns"
    return _EVENTS_TS_IS_NANOS[key]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table with its declared schema enforced."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(SCHEMAS)}")
    # Engine contract: event time is UTC. Parquet timestamps are UTC
    # instants and every oracle treats them as naive-UTC, so a host
    # session left on a local timezone would silently shift values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        return spark.read.schema(_EVENTS_READ_SCHEMA).parquet(path).select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def parallel_table(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Read a table and hash-repartition it across the cluster for
    compute-heavy per-row work (md5/n-gram/array kernels).

    Why: a parquet scan parallelizes by row group, and the small test
    files have ONE row group — so a map-heavy operator chained onto the
    scan runs serially no matter how many cores exist. On a production
    lake the scan has thousands of splits and this repartition moves
    data that is about to be shuffled anyway (or costs one extra pass
    of the *input* — MBs per row for text, dwarfed by the per-row
    compute it parallelizes). The explicit partition count keeps AQE
    from coalescing the tiny local exchange back to one partition
    (advisory size is 64 MB; a few MB of text would merge otherwise).
    """
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    return table(spark, sf_dir, name).repartition(n, F.col(key))


from contextlib import contextmanager  # noqa: E402


@contextmanager
def input_sized_shuffle(spark: SparkSession, sf_dir: str, *tables: str,
                        floor: int = 8, bytes_per_partition: int = 4 << 20):
    """Pin the session's shuffle width to the INPUT BYTES of the named
    tables for the duration of the block — the same file-stats-driven
    parallelism a planner derives, as a context manager so eager
    actions (checkpoints, counts, collects) inside a query builder run
    at a width the data justifies instead of the session default.

    The clamp ceiling is the CURRENT session setting: at warehouse
    scale input bytes exceed width*bytes_per_partition and this is a
    no-op, so queries keep their scale posture — only metadata-sized
    local runs stop paying full-width per-task scheduling (measured:
    pagerank 2.44 s → 1.62 s, ngram LM 1.08 s → 0.82 s at sf0.1).

    Lazy frames returned OUT of the block execute at the session
    width; only actions INSIDE are pinned — callers must checkpoint
    what they want pinned (which is what every loop-style operator
    here does anyway).
    """
    import os

    in_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in tables
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    width = max(floor, min(int(prev), in_bytes // bytes_per_partition))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
