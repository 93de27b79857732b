"""Warehouse/SQL-surface guarantees.

1. The `kamiyo.events` SQL view must serve the SAME timestamps as the
   DataFrame catalog reader for EITHER physical parquet unit — the
   driver has generated events.parquet as both TIMESTAMP(NANOS) and
   TIMESTAMP(MICROS) across rounds, and a unit-blind view silently
   shifts every timestamp 1000× (found live in round 2).
2. With SPARK_GRAFT_HIVE=1 the warehouse DDL persists across session
   RESTARTS (local Derby metastore) — BASELINE's "Spark SQL + Hive
   metastore integration" made executable. Runs in subprocesses because
   a catalogImplementation choice is fixed per JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


def test_events_view_matches_catalog_reader(spark, sf_dir):
    from kamiyo_hive_spark.catalog import table
    from kamiyo_hive_spark.warehouse import init_warehouse

    init_warehouse(spark, sf_dir)
    view = spark.sql("SELECT min(ts) AS lo, max(ts) AS hi FROM kamiyo.events").collect()[0]
    cat = (
        table(spark, sf_dir, "events")
        .selectExpr("min(ts) AS lo", "max(ts) AS hi")
        .collect()[0]
    )
    assert view.lo == cat.lo and view.hi == cat.hi, (
        f"SQL view serves shifted timestamps: view=({view.lo},{view.hi}) "
        f"catalog=({cat.lo},{cat.hi})"
    )


def _run_hive(code: str, ms_dir: str) -> str:
    env = dict(
        os.environ,
        SPARK_GRAFT_HIVE="1",
        SPARK_GRAFT_METASTORE_DIR=ms_dir,
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + "\n" + proc.stderr
    return proc.stdout


def test_hive_metastore_survives_session_restart(tmp_path, sf_dir):
    ms_dir = str(tmp_path / "metastore")
    _run_hive(
        f"""
        from kamiyo_hive_spark.session import get_spark
        from kamiyo_hive_spark.warehouse import init_warehouse
        spark = get_spark(app_name="hive-writer", shuffle_partitions=4)
        init_warehouse(spark, {str(sf_dir)!r})
        spark.stop()
        """,
        ms_dir,
    )
    out = _run_hive(
        f"""
        from kamiyo_hive_spark.session import get_spark
        spark = get_spark(app_name="hive-reader", shuffle_partitions=4)
        # NO init_warehouse: tables must come from the persisted metastore
        names = sorted(t.name for t in spark.catalog.listTables("kamiyo"))
        n = spark.sql("SELECT count(*) AS n FROM kamiyo.orders").collect()[0].n
        ts = spark.sql("SELECT min(ts) AS t FROM kamiyo.events").collect()[0].t
        print("TABLES:", ",".join(names))
        print("ORDERS:", n)
        print("EVENTS_MIN_TS:", ts.year)
        spark.stop()
        """,
        ms_dir,
    )
    assert "orders" in out and "events" in out
    assert "ORDERS:" in out and not "ORDERS: 0" in out
    # the persisted view/table must still decode event-time correctly
    assert "EVENTS_MIN_TS: 2024" in out


def _make_nanos_sf_dir(tmp_path, sf_dir: str) -> str:
    """A tmp scale-factor dir whose events.parquet is TIMESTAMP(NANOS)
    (the other tables symlink to the real testdata)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kamiyo_hive_spark.catalog import TABLES

    d = tmp_path / "sf_nanos"
    d.mkdir()
    for name in TABLES:
        if name != "events":
            os.symlink(f"{sf_dir}/{name}.parquet", d / f"{name}.parquet")
    base = datetime.datetime(2024, 1, 5, 12, 0, 0)
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [base, base + datetime.timedelta(hours=1), base + datetime.timedelta(hours=2)],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["view", "click", "purchase"]),
            "value": pa.array([1.5, 2.5, 3.5], pa.float64()),
            "props": pa.array(['{"k":1}', '{"k":2}', '{"k":3}']),
        }
    )
    pq.write_table(t, d / "events.parquet", version="2.6")
    from kamiyo_hive_spark.catalog import _events_ts_is_nanos

    assert _events_ts_is_nanos(str(d / "events.parquet")), "fixture must be NANOS"
    return str(d)


def test_hive_restart_with_nanos_events(tmp_path, sf_dir):
    """A NANOS events generation must survive a session restart too: the
    registered table normalizes to a MICROS staging at init, so a fresh
    session reads it with NO legacy conf (the round-2 review found the
    old view-over-raw layout unreadable after restart)."""
    nanos_dir = _make_nanos_sf_dir(tmp_path, sf_dir)
    ms_dir = str(tmp_path / "metastore")
    _run_hive(
        f"""
        from kamiyo_hive_spark.session import get_spark
        from kamiyo_hive_spark.warehouse import init_warehouse
        spark = get_spark(app_name="hive-writer-ns", shuffle_partitions=2)
        init_warehouse(spark, {nanos_dir!r})
        spark.stop()
        """,
        ms_dir,
    )
    out = _run_hive(
        """
        from kamiyo_hive_spark.session import get_spark
        spark = get_spark(app_name="hive-reader-ns", shuffle_partitions=2)
        # NO init_warehouse, NO nanosAsLong conf: must read cleanly
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
        rows = spark.sql(
            "SELECT count(*) AS n, min(ts) AS lo, max(ts) AS hi FROM kamiyo.events"
        ).collect()[0]
        print("N:", rows.n)
        print("LO:", rows.lo.isoformat())
        print("HI:", rows.hi.isoformat())
        spark.stop()
        """,
        ms_dir,
    )
    assert "N: 3" in out
    assert "LO: 2024-01-05T12:00:00" in out
    assert "HI: 2024-01-05T14:00:00" in out
