"""weighted_change_feed ≡ the unioned per-version read_changes feeds.

The r11 fold (VERDICT r10 item 4) replaces the union of per-version
change-feed relations with one weighted scan. This test pins the
bit-level equivalence a signed consumer relies on, over a history that
exercises every feed role: plain appends, a DV soft delete (surviving-
file attachment diff), a DV materialize (removed-at-dv_from +
added-plain), a restore that reinstates vectors (added-at-dv_to), and
a copy-on-write rewrite (removed + added, no DVs).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import cents
from kamiyo_hive_spark.sources.txlog import (
    TxLog,
    materialize_dvs,
    read_changes,
    restore,
    weighted_change_feed,
)


def _rollup_from_union(log, spark):
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    parts = [
        log.read(spark, version=0).select(
            "grp", F.lit(1).alias("_w"), "price"
        )
    ]
    for v in range(1, log.version() + 1):
        parts.append(
            read_changes(log, spark, v - 1, v).select(
                "grp", sign.alias("_w"), "price"
            )
        )
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    return _agg(acc)


def _agg(df):
    return {
        r["grp"]: (r["n"], r["total"])
        for r in df.groupBy("grp")
        .agg(
            F.sum("_w").cast("long").alias("n"),
            (F.sum(cents("price") * F.col("_w")) / 100.0)
            .cast("double")
            .alias("total"),
        )
        .collect()
    }


def test_weighted_feed_equals_unioned_feeds(spark, tmp_path):
    root = str(tmp_path / "wlog")
    log = TxLog.init(root)
    rows = [(i, f"G{i % 3}", float(i) + 0.25) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, grp string, price double")
    log.append(df.filter("k % 2 = 0"), writer="i0")          # v0
    log.append(df.filter("k % 2 = 1"), writer="i1")          # v1
    v = log.delete_where_dv(spark, F.col("k") % 17 == 0, writer="dv")  # v2
    assert v == 2
    assert materialize_dvs(log, spark) == 3                  # v3
    assert restore(log, 2, writer="unwind") == 4             # v4
    assert log.dv_state(), "restore must reinstate the vectors"
    v = log.rewrite_where(                                    # v5
        spark,
        F.col("k") % 5 == 0,
        lambda r: r.filter(F.col("k") % 5 != 0),
        writer="cow",
    )
    assert v == 5

    via_union = _rollup_from_union(log, spark)
    via_weights = _agg(
        weighted_change_feed(log, spark, ["grp", "price"]).withColumnRenamed(
            "_weight", "_w"
        )
    )
    assert via_weights == via_union  # exact, including doubles

    # and both equal the head recompute (the telescoping property)
    head = {
        r["grp"]: (r["n"], r["total"])
        for r in log.read(spark)
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.sum(cents("price")) / 100.0).cast("double").alias("total"),
        )
        .collect()
    }
    assert via_weights == head


@pytest.mark.parametrize("recorded_schema", [True, False])
def test_weighted_feed_of_fully_deleted_history_is_empty(
    spark, tmp_path, recorded_schema
):
    log = TxLog.init(str(tmp_path / "gone"))
    rows = [(i, f"G{i % 3}", float(i) + 0.25) for i in range(30)]
    df = spark.createDataFrame(rows, "k long, grp string, price double")
    if recorded_schema:
        log.append(df)
    else:  # a raw commit records no schema; the footer supplies it
        log.commit("append", log._write_stage(df, log.stage_dir()))
    assert bool(log.table_schema()) == recorded_schema
    # delete everything as one metadata-only commit (a TRUNCATE): every
    # file's +1 at v0 cancels its -1 at v1, so nothing is left to scan
    log.commit("rewrite", [], log.snapshot_files(), read_version=0)
    assert log.snapshot_files() == []

    feed = weighted_change_feed(log, spark, ["grp", "price"])
    assert feed.columns == ["grp", "price", "_weight"]
    assert dict(feed.dtypes)["_weight"] == "int"
    assert _agg(feed.withColumnRenamed("_weight", "_w")) == {}
