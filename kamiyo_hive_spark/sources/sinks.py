"""Sources & sinks (SURVEY §2.1): bulk-insert sink + partitioned layout.

Reference semantics: S3 bulk insert (`prisma.swarmRun.create` /
`swarmEvent.createMany`, kamiyo-hive `app/api/swarm/runs/route.ts:101-130`)
— append rows transactionally, reread consistently. The Spark shape is a
partitioned parquet write: partition columns mirror the reference's
index choices (`@@index([teamId])`, `[createdAt]` → partition by
status/date), giving partition pruning where Postgres used B-trees.

The roundtrip query proves write → partitioned layout → pruned reread
equivalence against the oracle computing directly from the source.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import dec, money_sum, money_sum_col
from kamiyo_hive_spark.plans.registry import register

# Staging root: `.scratch` at the top of the checkout this package lives in.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def staging_current(out: str, source) -> bool:
    """True iff the staged dir at `out` was built from the CURRENT
    source file(s). The driver regenerates testdata between rounds; a
    staged copy keyed only by path would silently serve stale rows, so
    every staging records (mtime_ns, size) of its source(s) and is
    rebuilt on mismatch. ``source`` may be one path or a list (a
    derived pool reading BOTH embeddings and documents invalidates
    when EITHER regenerates)."""
    marker = os.path.join(out, "_SOURCE_FINGERPRINT")
    if not (os.path.exists(os.path.join(out, "_SUCCESS")) and os.path.exists(marker)):
        return False
    with open(marker) as fh:
        return fh.read() == _fingerprint(source)


def _fingerprint(source) -> str:
    if isinstance(source, (list, tuple)):
        return "|".join(_fingerprint(s) for s in source)
    st = os.stat(source)
    return f"{st.st_mtime_ns}:{st.st_size}"


def record_staging(out: str, source, fingerprint: str | None = None) -> None:
    """Record the source fingerprint for a completed staging build.

    Callers should capture ``_fingerprint(source)`` BEFORE starting the
    build and pass it here: if the driver regenerates the source while
    the (potentially long) Spark write is running, fingerprinting after
    the fact would stamp the NEW source over data built from the OLD
    one, and the stale staging would never invalidate. With the
    pre-captured value the marker mismatches and the next read rebuilds.
    """
    with open(os.path.join(out, "_SOURCE_FINGERPRINT"), "w") as fh:
        fh.write(fingerprint if fingerprint is not None else _fingerprint(source))


@contextmanager
def _staging_lock(out: str):
    """Blocking exclusive flock keyed by the staging target path.
    Serializes concurrent (re)builders across SESSIONS, not just
    threads — the r3 race was two processes sharing `.scratch/`, one
    reading a pool the other had just `rmtree`d mid-rebuild."""
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    lf = open(out + ".lock", "w")
    try:
        fcntl.flock(lf, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(lf, fcntl.LOCK_UN)
        lf.close()


def _swap_into_place(tmp: str, out: str) -> None:
    """Atomically publish a completed build dir. POSIX rename is atomic,
    so no reader ever lists a half-built pool — and the DISPLACED
    generation is kept on disk until the NEXT swap garbage-collects it:
    a concurrent session may hold a LAZY plan whose file list points
    into the old generation (Spark lists at planning, opens at task
    start — an fd-less window), so deleting it at swap time would fail
    that session's collect mid-flight. One retained generation gives
    in-flight readers a full rebuild cycle of grace with bounded disk
    (these are small derived pools)."""
    parent = os.path.dirname(out) or "."
    base = os.path.basename(out)
    for name in os.listdir(parent):
        if name.startswith(f"{base}.old."):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    if os.path.exists(out):
        os.rename(out, f"{out}.old.{os.getpid()}.{uuid.uuid4().hex[:8]}")
    os.rename(tmp, out)


def ensure_staging(out: str, source, build) -> str:
    """Concurrency-safe fingerprint-cached staging (VERDICT r3 finding 1).

    ``build(tmp_dir)`` must write the complete staged contents into
    ``tmp_dir`` (it does not exist yet). On success the directory is
    fingerprint-stamped and atomically renamed into place. The build
    runs under an exclusive cross-process lock with a double-check, so
    concurrent sessions never rebuild the same pool twice or observe a
    partially-built one — the two failure modes of the old
    rmtree-then-write-in-place scheme.
    """
    if staging_current(out, source):
        return out
    with _staging_lock(out):
        if staging_current(out, source):  # a concurrent builder won
            return out
        fp = _fingerprint(source)
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            build(tmp)
            record_staging(tmp, source, fp)
            _swap_into_place(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def fresh_staging(out: str, build) -> str:
    """Always-rebuild variant for derived pools that are cheap and
    deterministic per run (sink roundtrips, copy-on-write DML outputs).
    Still builds into a temp dir and atomically swaps, so a concurrent
    session reading the previous build never sees a torn directory."""
    with _staging_lock(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            build(tmp)
            _swap_into_place(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def fresh_staging_result(out: str, build, result) -> DataFrame:
    """:func:`fresh_staging` plus compute-under-lock: build into a temp
    dir, swap, then materialize ``result(out)`` with localCheckpoint
    BEFORE the lock releases. A lazy frame over a fresh_staging root is
    a race: two concurrent rebuilds before the frame's collect delete
    the displaced generation it planned against (the single retained
    generation only survives ONE subsequent swap). Same discipline as
    the txlog live-write queries."""
    with _staging_lock(out):
        tmp = f"{out}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            build(tmp)
            _swap_into_place(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return result(out).localCheckpoint()


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Bulk-insert sink: atomic-overwrite partitioned parquet append
    target. (Delta/Iceberg MERGE is the transactional upgrade; their
    jars aren't in this image, so the layout contract is what we test.)"""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


@register(
    "bulk_insert_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY 1
    ORDER BY o_orderstatus
    """,
    tags=("S3", "sink", "partition-pruning"),
)
def bulk_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: bulk-write recent orders partitioned by status, reread with a
    partition filter, aggregate. The reread scan must see exactly the
    written rows (write/read consistency) and prunes non-matching
    partitions at planning time."""
    out = os.path.join(SCRATCH, "orders_sink")
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return fresh_staging_result(
        out,
        lambda tmp: write_partitioned(recent, tmp, ["o_orderstatus"]),
        lambda root: spark.read.parquet(root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            money_sum_col("o_totalprice").alias("total_price"),
        ),
    )


@register(
    "upsert_scd1_roundtrip",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey,
               o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) + CAST(100.00 AS DECIMAL(14,2)) AS DOUBLE) AS o_totalprice
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 100000000,
               o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    merged AS (
        SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
               coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
               coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice
        FROM orders b FULL OUTER JOIN updates u USING (o_orderkey)
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM merged
    GROUP BY 1
    ORDER BY o_orderstatus
    """,
    tags=("S3", "sink", "upsert", "merge", "dynamic-partition-overwrite"),
)
def upsert_scd1_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3's MERGE semantics on a plain parquet warehouse: upsert a batch
    of updated + brand-new rows into a status-partitioned orders table,
    rewriting ONLY the partitions the batch touches (dynamic partition
    overwrite), then prove the reread equals the logical FULL OUTER
    merge.

    Scale shape: the merge is `updates ∪ (base ⟕̸ updates)` — new rows
    win by key via a left-anti join of base against the (small,
    broadcast) update batch. Untouched partitions are never read or
    rewritten; at 100 TB with date partitioning, a daily upsert
    rewrites one day, not the table. Delta/Iceberg MERGE is the same
    plan with a transaction log on top."""
    out = os.path.join(SCRATCH, "orders_upsert")
    base_cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = table(spark, sf_dir, "orders").select(*base_cols)

    # The pre-upsert table is INGEST, not part of the upsert: stage the
    # status-partitioned layout once per testdata generation (same
    # discipline as `delete_pool_dir`) and hard-link it into the fresh
    # working dir per run — the timed work is then the MERGE itself
    # (read touched partitions, anti-join, dynamic overwrite, reread),
    # not a full re-write of the base table every invocation (r10,
    # guide §1.2). Dynamic overwrite unlinks the links it replaces,
    # never the staged inodes.
    base_dir = os.path.join(
        SCRATCH, f"orders_upsert_base_{os.path.basename(sf_dir)}"
    )
    base_dir = ensure_staging(
        base_dir,
        os.path.join(sf_dir, "orders.parquet"),
        lambda tmp: write_partitioned(base, tmp, ["o_orderstatus"]),
    )

    def build(tmp: str) -> None:
        # Walk under the base staging's lock (ADVICE r10): a concurrent
        # session re-staging after testdata regeneration swaps
        # generations via rename, and an unlocked walk could hard-link
        # a mixed-generation table. The lock order (working-dir lock,
        # then base lock) is the only order any session uses.
        with _staging_lock(base_dir):
            for dirpath, _dirs, files in os.walk(base_dir):
                rel = os.path.relpath(dirpath, base_dir)
                dst = tmp if rel == "." else os.path.join(tmp, rel)
                os.makedirs(dst, exist_ok=True)
                for f in files:
                    if f in ("_SOURCE_FINGERPRINT", "_SUCCESS"):
                        # staging markers, not table data — and Spark's
                        # commit re-creates _SUCCESS by truncating in
                        # place, so hard-linking it would open a staged
                        # inode for write (ADVICE r10)
                        continue
                    os.link(os.path.join(dirpath, f), os.path.join(dst, f))

        upd_price = (
            dec("o_totalprice") + F.lit("100.00").cast("decimal(14,2)")
        ).cast("double")
        updates = (
            base.filter(F.col("o_orderkey") % 7 == 0)
            .select("o_orderkey", "o_orderstatus", upd_price.alias("o_totalprice"))
            .union(
                base.filter(F.col("o_orderkey") % 101 == 0).select(
                    (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                    "o_orderstatus",
                    "o_totalprice",
                )
            )
        )

        stored = spark.read.parquet(tmp)
        touched = [
            r.o_orderstatus
            for r in updates.select("o_orderstatus").distinct().collect()
        ]
        survivors = stored.filter(F.col("o_orderstatus").isin(touched)).join(
            F.broadcast(updates), "o_orderkey", "left_anti"
        )
        # Materialize before overwriting: the merge plan reads the same
        # files the dynamic overwrite is about to replace (Delta solves
        # this with snapshot isolation; on plain parquet we cut the
        # dependency).
        merged_touched = (
            survivors.select(*base_cols)
            .union(updates.select(*base_cols))
            .localCheckpoint()
        )

        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            # Overwrites only the partitions present in merged_touched.
            merged_touched.write.mode("overwrite").partitionBy(
                "o_orderstatus"
            ).parquet(tmp)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return fresh_staging_result(
        out,
        build,
        lambda root: spark.read.parquet(root)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            money_sum_col("o_totalprice").alias("total_price"),
        ),
    )


@register(
    "dpp_star_prune",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE year(o_orderdate) >= 2000
    GROUP BY 1
    ORDER BY o_year
    """,
    tags=("S3", "dynamic-partition-pruning", "star-join", "partition-pruning"),
)
def dpp_star_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a star join: the fact written
    year-partitioned, joined to a generated calendar dimension whose
    filter (recent years) is only known at runtime — Catalyst inserts a
    dynamicpruning subquery so the fact scan reads ONLY the matching
    year directories. At 100 TB with date partitioning this is the
    difference between scanning 7 years and scanning 2; the plan
    assertion lives in tests/test_bucketing.py."""
    out = os.path.join(SCRATCH, f"orders_by_year_{os.path.basename(sf_dir)}")
    source = os.path.join(sf_dir, "orders.parquet")
    ensure_staging(
        out,
        source,
        lambda tmp: table(spark, sf_dir, "orders")
        .withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(tmp),
    )
    fact = spark.read.parquet(out)
    calendar = spark.range(1990, 2010).select(
        F.col("id").cast("int").alias("cal_year"),
        (F.col("id") >= 2000).alias("is_recent"),
    )
    dim = calendar.filter(F.col("is_recent"))
    return (
        fact.join(F.broadcast(dim), fact.o_year == dim.cal_year)
        .groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum_col("o_totalprice").alias("total_price"),
        )
    )


def _rest_pages_dir(spark: SparkSession, sf_dir: str, page_size: int = 100) -> str:
    """Stage the customer table as REST-page-shaped JSONL: one line per
    page, `{"page": N, "data": [ {customer record}, ... ]}` — the wire
    shape of the reference's paginated list endpoints. Staged once per
    sf_dir (deterministic payloads: pages keyed by custkey range, array
    sorted by key)."""
    out = f"{SCRATCH}/rest_pages_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "customer.parquet")
    c = table(spark, sf_dir, "customer")
    rec = F.struct("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    pages = (
        c.withColumn("page", F.expr(f"c_custkey div {page_size}"))
        .groupBy("page")
        .agg(F.sort_array(F.collect_list(rec)).alias("data"))
        .select(F.to_json(F.struct("page", "data")).alias("value"))
    )
    return ensure_staging(
        out, source, lambda tmp: pages.write.mode("overwrite").text(tmp)
    )


@register(
    "rest_ingest_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_acctbal,
           CAST(MIN(c_custkey) AS BIGINT) AS first_custkey
    FROM customer
    GROUP BY 1
    ORDER BY c_mktsegment
    """,
    tags=("S4", "S5", "ingest", "json"),
)
def rest_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 made concrete: a paginated REST/GraphQL source is ingested
    as JSON-lines pages (the reference's `lib/hive-api.ts:145-215`,
    `lib/indexer.ts:45-62`, `packages/hive-sdk/src/discovery.ts:99-110`
    wire shape), then read schema-on-read with a DECLARED StructType —
    no inference job — flattened (`explode` of the page's `data` array)
    and aggregated. The oracle computes from the original table, so the
    hash proves the JSON roundtrip is lossless (doubles survive via
    shortest-roundtrip repr; longs exactly).

    Scale posture: each JSONL line is one page (bounded array), so the
    JSON parse is row-local and pipelined inside whole-stage codegen;
    the explode is a 1→page_size fan-out with no shuffle; the only
    exchange is the final group-by. Ingest at 100 TB is this exact plan
    with more files."""
    src = _rest_pages_dir(spark, sf_dir)
    schema = (
        "page long, data array<struct<c_custkey:bigint,c_name:string,"
        "c_nationkey:int,c_acctbal:double,c_mktsegment:string>>"
    )
    flat = (
        spark.read.schema(schema)
        .json(src)
        .select(F.explode("data").alias("r"))
        .select("r.*")
    )
    return (
        flat.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            money_sum_col("c_acctbal").alias("total_acctbal"),
            F.min("c_custkey").alias("first_custkey"),
        )
    )


def _packed_accounts_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders as byte-packed account rows: 24-byte big-endian
    layout [orderkey u64 | custkey u64 | totalprice_cents u64] — the
    reference's fixed-offset on-chain account encoding. Packing is pure
    JVM expression work (hex/lpad/unhex), staged once per sf_dir."""
    out = f"{SCRATCH}/packed_accounts_{os.path.basename(sf_dir)}"
    source = os.path.join(sf_dir, "orders.parquet")
    o = table(spark, sf_dir, "orders")

    def be64(col: F.Column) -> F.Column:
        return F.unhex(F.lpad(F.hex(col), 16, "0"))

    cents = F.round(dec("o_totalprice") * 100).cast("long")
    packed = o.select(
        F.concat(be64(F.col("o_orderkey")), be64(F.col("o_custkey")), be64(cents)).alias(
            "raw"
        )
    )
    return ensure_staging(
        out, source, lambda tmp: packed.write.mode("overwrite").parquet(tmp)
    )


@register(
    "account_scan_decode",
    oracle="""
    SELECT o_custkey // 100 AS cust_bucket,
           count(*) AS n_accounts,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1
    ORDER BY cust_bucket
    """,
    tags=("S6", "ingest", "binary"),
)
def account_scan_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 made concrete: a full scan over byte-packed account rows
    (`programs/kamiyo-fast-voting/src/lib.rs:194-227` fixed layouts;
    manual offset decode `lib/governance.ts:113-187`), decoded with
    fixed-offset slices ENTIRELY JVM-side (substring → hex → conv —
    no Python in the row path) and aggregated. The oracle computes from
    the original typed table, so the hash proves pack→decode is
    lossless, including the fixed-point cents encoding.

    Scale posture: decode is a zero-shuffle projection fused into
    whole-stage codegen over the scan; the only exchange is the final
    group-by. This is the ingest-time posture SURVEY §2.1 assigns to
    account stores — decode once at the edge, columnar after."""
    src = _packed_accounts_dir(spark, sf_dir)

    def u64_at(pos: int) -> F.Column:
        return F.conv(F.hex(F.substring(F.col("raw"), pos, 8)), 16, 10).cast("long")

    # cached staged reader (r8): re-listing the pool per call paid a
    # listing job; the fingerprint-keyed relation is reused in-session
    from kamiyo_hive_spark.operators.similarity import _staged_index_df

    acct = _staged_index_df(spark, src).select(
        u64_at(1).alias("orderkey"),
        u64_at(9).alias("custkey"),
        u64_at(17).alias("cents"),
    )
    out = acct.groupBy(F.expr("custkey div 100").alias("cust_bucket")).agg(
        F.count("*").alias("n_accounts"),
        F.sum("cents").alias("total_cents"),
    )
    # ~1.5k result rows: input-sized exchange width (A/B best-of-5 at
    # sf0.1: 0.47 -> 0.39 s; no-op at scale)
    from kamiyo_hive_spark.catalog import input_sized_shuffle

    with input_sized_shuffle(spark, sf_dir, "orders"):
        return out.localCheckpoint()
