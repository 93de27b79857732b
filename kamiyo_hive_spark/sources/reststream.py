"""DataSourceV2 STREAMING source: offset-tracked reads from a remote
log, with checkpoint replay and committed-offset retention.

The reference's live surface is an append-only event feed consumed
over WebSocket with client-side resume (kamiyo-hive
`hooks/useAgentStream.ts:39-53`, `packages/hive-sdk/src/channels/
ws-server.ts`); the Spark-native equivalent of "resume from where I
left off" is a streaming source with REAL offsets: `latestOffset`
polls the remote log's head, `partitions(start, end)` splits the
offset range into pages fetched BY EXECUTORS in parallel (this is the
full `DataSourceStreamReader`, not the driver-side Simple variant —
at scale the driver never touches row data), the checkpoint makes
restarts exactly-once, and `commit(end)` acknowledges consumed
offsets back to the service so it can apply bounded retention (ST6)
upstream.

`streaming_dsv2_replay` proves the whole contract in one registered
query: consume half the log, STOP, append the rest, RESTART from the
same checkpoint — the final aggregate matches the whole-table oracle
only if the restart resumed exactly after the committed offset (the
server has already pruned acknowledged rows, so re-reading them is
impossible, not merely unlikely).

Classes are nested so cloudpickle ships them by value to executor
workers (see restds._build_orders_rest_datasource).
"""

from __future__ import annotations

import json
import tempfile
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import dec, money_sum_col
from kamiyo_hive_spark.plans.registry import register

EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
)


class EventLogApiServer:
    """Append-only remote event log with offset reads + ack-based
    retention. Offsets are absolute log indexes (monotone, replayable).

    Endpoints:
      GET  /log/latest            -> {"n": head}
      GET  /log/range?start=&end= -> {"rows": [...]} (absolute indexes)
      POST /log/ack {"n": k}      -> prune entries below k (bounded
                                     retention, ST6); 409 if k > head
    Observables: `range_requests` [(start, end)], `acked`, `pruned_to`.
    """

    def __init__(self, rows: list[tuple] | None = None, host: str = "127.0.0.1"):
        # log entry: (event_id, ts_us, user_id, event_type, value)
        self._log: list[tuple] = list(rows or [])
        self._base = 0  # absolute index of self._log[0] after pruning
        self.host = host
        self.port: int | None = None
        self.range_requests: list[tuple[int, int]] = []
        self.acked: list[int] = []
        self.pruned_to = 0
        self._lock = threading.Lock()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def append(self, rows: list[tuple]) -> None:
        with self._lock:
            self._log.extend(rows)

    @property
    def head(self) -> int:
        with self._lock:
            return self._base + len(self._log)

    def __enter__(self) -> "EventLogApiServer":
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                import urllib.parse as up

                parsed = up.urlparse(self.path)
                q = up.parse_qs(parsed.query)
                if parsed.path == "/log/latest":
                    with server._lock:
                        self._reply(200, {"n": server._base + len(server._log)})
                elif parsed.path == "/log/range":
                    start = int(q["start"][0])
                    end = int(q["end"][0])
                    with server._lock:
                        server.range_requests.append((start, end))
                        if start < server._base:
                            self._reply(
                                410, {"error": "range below retention floor"}
                            )
                            return
                        lo = start - server._base
                        hi = end - server._base
                        self._reply(200, {"rows": server._log[lo:hi]})
                else:
                    self._reply(404, {})

            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                req = json.loads(self.rfile.read(n)) if n else {}
                if self.path == "/log/ack":
                    k = int(req["n"])
                    with server._lock:
                        head = server._base + len(server._log)
                        if k > head:
                            self._reply(409, {"error": "ack beyond head"})
                            return
                        server.acked.append(k)
                        if k > server._base:
                            server._log = server._log[k - server._base :]
                            server._base = k
                            server.pruned_to = k
                    self._reply(200, {"ok": True})
                else:
                    self._reply(404, {})

        self._httpd = ThreadingHTTPServer((self.host, 0), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    @property
    def base_url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def __exit__(self, *exc) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=2)


def _build_event_log_stream_datasource():
    """Nested -> by-value pickling for executor workers."""

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _EventLogStreamReader(DataSourceStreamReader):
        def __init__(self, options: dict):
            self.base_url = options["base_url"]
            self.page_size = int(options.get("page_size", "10000"))

        def _get(self, path: str) -> dict:
            import json as _json
            import urllib.request as _rq

            with _rq.urlopen(self.base_url + path, timeout=30) as resp:
                return _json.loads(resp.read())

        # -- driver: offset management ------------------------------
        def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
            return {"idx": 0}

        def latestOffset(self) -> dict:  # noqa: N802
            return {"idx": self._get("/log/latest")["n"]}

        def partitions(self, start: dict, end: dict):
            lo, hi = start["idx"], end["idx"]
            return [
                InputPartition((o, min(o + self.page_size, hi)))
                for o in range(lo, hi, self.page_size)
            ] or [InputPartition((lo, lo))]

        def commit(self, end: dict) -> None:
            # consumed-offset ack -> the service may prune below it
            import json as _json
            import urllib.request as _rq

            req = _rq.Request(
                self.base_url + "/log/ack",
                data=_json.dumps({"n": end["idx"]}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with _rq.urlopen(req, timeout=30) as resp:
                resp.read()

        # -- executors: page fetch ----------------------------------
        def read(self, partition):
            from datetime import datetime as _dt
            from datetime import timedelta as _td
            from datetime import timezone as _tz

            lo, hi = partition.value
            if hi <= lo:
                return
            rows = self._get(f"/log/range?start={lo}&end={hi}")["rows"]
            # Exact integer micros → datetime (no float double-rounding).
            epoch = _dt(1970, 1, 1, tzinfo=_tz.utc)
            for eid, ts_us, uid, etype, value in rows:
                yield (
                    int(eid),
                    epoch + _td(microseconds=int(ts_us)),
                    int(uid),
                    etype,
                    float(value),
                )

    class EventLogRestDataSource(DataSource):
        """`spark.readStream.format("rest_event_log")` entry point."""

        @classmethod
        def name(cls) -> str:
            return "rest_event_log"

        def schema(self) -> str:
            return (
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string, value double"
            )

        def streamReader(self, schema) -> _EventLogStreamReader:  # noqa: N802
            return _EventLogStreamReader(self.options)

    return EventLogRestDataSource


EventLogRestDataSource = _build_event_log_stream_datasource()


def event_log_rows(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The remote log's own dataset: events serialized to wire shape
    (µs timestamps), ordered by event_id — models the external feed's
    storage, exactly like restds.orders_api_rows."""
    from kamiyo_hive_spark.catalog import table

    return [
        (r["event_id"], r["ts_us"], r["user_id"], r["event_type"], r["value"])
        for r in table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
        .collect()
    ]


def run_dsv2_replay(
    spark: SparkSession, sf_dir: str, page_size: int = 2000
) -> tuple[DataFrame, EventLogApiServer]:
    """Drive the full replay contract; returns (result, server) so
    tests can additionally pin the server-side observables."""
    from kamiyo_hive_spark.streaming.jobs import bounded_replay_confs

    rows = event_log_rows(spark, sf_dir)
    half = len(rows) // 2
    ckpt = tempfile.mkdtemp(prefix="dsv2_replay_ckpt_")
    sink = "dsv2_replay_out"
    with EventLogApiServer(rows[:half]) as srv:
        spark.dataSource.register(EventLogRestDataSource)

        def consume_all() -> None:
            agg = (
                spark.readStream.format("rest_event_log")
                .option("base_url", srv.base_url)
                .option("page_size", str(page_size))
                .load()
                .groupBy("event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    money_sum_col("value").alias("total_value"),
                )
            )
            with bounded_replay_confs(agg, "complete"):
                q = (
                    agg.writeStream.outputMode("complete")
                    .format("memory")
                    .queryName(sink)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()

        consume_all()  # first run: first half of the log
        srv.append(rows[half:])  # feed advances while we're down
        consume_all()  # restart from checkpoint: tail only
        return (
            spark.table(sink)
            .select("event_type", "n_events", "total_value")
            .orderBy("event_type")
            .localCheckpoint()  # materialize while the server lives
        ), srv


@register(
    "streaming_dsv2_replay",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("ST5", "S7", "dsv2", "streaming", "replay", "retention"),
    # bench=False: two full stream (re)starts against the in-process
    # HTTP stub — state-store init + wire time, not plan quality
    bench=False,
)
def streaming_dsv2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5/S7 through a REAL custom streaming source: offsets from the
    remote log's head, executor-parallel page reads, checkpointed
    restart across a stop/append/restart cycle, and committed-offset
    acks that let the service prune (so a wrong resume point would
    read a 410'd range or miss rows — either way a hash mismatch
    against the whole-table oracle)."""
    out, _srv = run_dsv2_replay(spark, sf_dir)
    return out
