"""`streaming.jobs.bounded_replay_confs`: the one scoped helper every
bounded streaming run goes through.

Pins its conf scope (each conf as requested inside, back to its prior
value or to unset after, also on exception) and its output-mode
whitelist (a query whose last rows wait for a no-data batch is refused
before anything starts).
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from kamiyo_hive_spark.streaming.jobs import (
    _PRIVATE_CKPT_MANAGER,
    _run_to_completion,
    bounded_replay_confs,
)

PARTS = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
KEYS = (PARTS, NO_DATA, MANAGER)


def _explicit(spark) -> dict:
    """The three confs as explicitly set in the session (None = unset)."""
    now = spark.conf.getAll
    return {k: now.get(k) for k in KEYS}


def _apply(spark, confs: dict) -> None:
    for k, v in confs.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.fixture
def session_confs(spark):
    before = _explicit(spark)
    yield
    _apply(spark, before)


def _rate(spark):
    return spark.readStream.format("rate").load()


PRIOR_SET = {
    PARTS: "7",
    NO_DATA: "true",
    MANAGER: "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager",
}


@pytest.mark.parametrize("prior", [dict.fromkeys(KEYS), PRIOR_SET], ids=["unset", "set"])
@pytest.mark.parametrize("fail", [False, True], ids=["normal", "exception"])
def test_confs_scoped_and_restored(spark, session_confs, prior, fail):
    _apply(spark, prior)
    with pytest.raises(RuntimeError) if fail else contextlib.nullcontext():
        with bounded_replay_confs(_rate(spark), "append", partitions=3):
            assert spark.conf.get(PARTS) == "3"
            assert spark.conf.get(NO_DATA) == "false"
            assert spark.conf.get(MANAGER) == _PRIVATE_CKPT_MANAGER
            if fail:
                raise RuntimeError("query failed")
    assert _explicit(spark) == prior


def test_no_data_batches_kept_on_request(spark, session_confs):
    with bounded_replay_confs(_rate(spark), "append", no_data_batches=True):
        assert spark.conf.get(NO_DATA) == "true"


def _windowed_counts(spark):
    return (
        _rate(spark)
        .withWatermark("timestamp", "1 minute")
        .groupBy(F.window("timestamp", "1 minute"))
        .count()
    )


def _stream_join(spark, how: str):
    left = _rate(spark).select(
        F.col("value").alias("k"), F.col("timestamp").alias("lt")
    ).withWatermark("lt", "1 minute")
    right = _rate(spark).select(
        F.col("value").alias("rk"), F.col("timestamp").alias("rt")
    ).withWatermark("rt", "1 minute")
    cond = (F.col("k") == F.col("rk")) & F.col("rt").between(
        F.col("lt"), F.col("lt") + F.expr("INTERVAL 1 MINUTE")
    )
    return left.join(right, cond, how)


def test_watermark_append_refused_before_start(spark, session_confs):
    before = _explicit(spark)
    with pytest.raises(ValueError, match="no-data batches"):
        _run_to_completion(_windowed_counts(spark), "never_started_out", "append")
    assert not spark.streams.active
    assert not spark.catalog.tableExists("never_started_out")
    assert _explicit(spark) == before
    with pytest.raises(ValueError, match="no-data batches"):
        with bounded_replay_confs(_stream_join(spark, "left_outer"), "append"):
            pass


@pytest.mark.parametrize(
    "build, mode, kw",
    [
        (_windowed_counts, "complete", {}),
        (_windowed_counts, "update", {}),
        (_windowed_counts, "append", {"no_data_batches": True}),
        (lambda s: _stream_join(s, "inner"), "append", {}),
        (lambda s: _rate(s).dropDuplicates(["value"]), "Append", {}),
    ],
    ids=["complete", "update", "append-no-data-on", "inner-join", "dedup"],
)
def test_modes_whose_rows_never_wait_are_accepted(spark, session_confs, build, mode, kw):
    with bounded_replay_confs(build(spark), mode, **kw):
        pass


def test_unknown_mode_refused(spark, session_confs):
    before = _explicit(spark)
    with pytest.raises(ValueError, match="output mode"):
        with bounded_replay_confs(_rate(spark), "upsert"):
            pass
    assert _explicit(spark) == before
