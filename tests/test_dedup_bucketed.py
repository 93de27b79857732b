"""Plan + result contracts for the bucketed incremental-dedup fallback
(VERDICT r3 finding 3 / task 5): the dup-key probe must be a
bucket-co-located semi-join with ZERO exchanges on either side, and the
result must be identical to the broadcast siblings."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kamiyo_hive_spark.operators.dedup import (
    _bucketed_fp_table,
    _incremental_frames,
    incremental_dedup_bucketed,
    incremental_dedup_new_docs,
)


def test_bucketed_matches_exact_variant(spark, sf_dir):
    a = sorted(map(tuple, incremental_dedup_new_docs(spark, sf_dir).collect()))
    b = sorted(map(tuple, incremental_dedup_bucketed(spark, sf_dir).collect()))
    assert a == b
    assert len(a) > 0


def test_bucketed_accepts_any_data_dir_name(spark, sf_dir, tmp_path):
    """The data-dir basename becomes part of a table identifier; a `-`
    (as in `sf0.001-<digest>`) once raised INVALID_IDENTIFIER."""
    import shutil

    copy = str(tmp_path / f"{os.path.basename(sf_dir)}-copy")
    shutil.copytree(sf_dir, copy)
    a = sorted(map(tuple, incremental_dedup_new_docs(spark, copy).collect()))
    b = sorted(map(tuple, incremental_dedup_bucketed(spark, copy).collect()))
    assert a == b
    assert len(a) > 0


def _no_broadcast(spark):
    """Plan-assertion context: at test scale the planner broadcasts the
    tiny side (correct there); the bucketed layout exists for the
    regime where NOTHING fits a broadcast, so assert its no-exchange
    property with the broadcast path closed."""
    import contextlib

    @contextlib.contextmanager
    def ctx():
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    return ctx()


def test_probe_join_has_no_exchange(spark, sf_dir):
    """The semi-join of two fingerprint-bucketed tables must not shuffle
    either side: the whole point of the layout is that history never
    moves."""
    new, hist = _incremental_frames(spark, sf_dir)
    new_t = _bucketed_fp_table(
        spark,
        sf_dir,
        "inc_new_fp",
        new,
        "source string, doc_id bigint, fingerprint string",
    )
    hist_t = _bucketed_fp_table(
        spark, sf_dir, "inc_hist_fp", hist, "fingerprint string"
    )
    with _no_broadcast(spark):
        probe = spark.table(hist_t).join(
            spark.table(new_t).select("fingerprint"), "fingerprint", "leftsemi"
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
        rows = probe.count()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan and "LeftSemi" in plan, plan
    assert rows > 0  # non-vacuous: the probe actually selects dups


def test_bucketed_scan_prunes_selected_bucket(spark, sf_dir):
    """Bucket layout also buys key-lookup pruning: an equality filter on
    the bucketing key should scan 1 of 16 buckets (selectedBucketsCount
    in the scan node)."""
    new, _ = _incremental_frames(spark, sf_dir)
    new_t = _bucketed_fp_table(
        spark,
        sf_dir,
        "inc_new_fp",
        new,
        "source string, doc_id bigint, fingerprint string",
    )
    one = spark.table(new_t).limit(1).collect()[0]["fingerprint"]
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        probe = spark.table(new_t).filter(F.col("fingerprint") == one)
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev
        )
    assert "SelectedBucketsCount: 1 out of 16" in plan, plan
