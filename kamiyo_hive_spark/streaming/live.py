"""Live-socket streaming source adapter (SURVEY ST1-ST8 "live" leg).

The file-replay jobs in `streaming/jobs.py` prove the stateful
semantics over multi-micro-batch file delivery; this module closes the
sim-vs-real gap the reference's live surface implies (its HUD consumes
a WebSocket feed — `hooks/useAgentStream.ts:39-53`,
`packages/hive-sdk/src/channels/ws-server.ts`): the SAME transforms
consume a genuine TCP byte stream through Spark's socket source.

The pieces:

- :func:`serve_events_tcp` — a real TCP server (thread) that streams
  an events slice as JSON lines and then holds the connection open
  (the socket source treats a disconnect as query failure, so the
  server outlives the query and is closed by the caller). Its
  ``send()`` method delivers MORE lines to a live client — the staged
  feed the watermark-rejection test uses to land a late row in a
  later micro-batch than the one that advanced the watermark.
- :func:`serve_events_bus` / :func:`partition_lines` /
  :func:`scramble_within` / :func:`socket_events_union` — the
  N-partition, out-of-order bus (VERDICT r5 task 5): events hash-
  partitioned across N independent servers, each partition's delivery
  deterministically scrambled inside event-time buckets smaller than
  the consumer's watermark delay, consumed as a union of N socket
  streams — the Kafka topic-partition shape.
- :func:`socket_events_stream` — `readStream.format("socket")` +
  `from_json` back to the exact events schema. Timestamps travel as
  `unix_micros` longs, not strings — exact round-trip, no format
  ambiguity; doubles travel as shortest-repr JSON numbers (exact).
- :func:`run_live_to_completion` — drives the query until the sink
  has absorbed `expected_rows` input rows. A socket has no
  end-of-stream marker, so completion is detected from query progress
  (total numInputRows), with a hard timeout.

Scale posture: the socket source is the single-node stand-in for a
partitioned bus (Kafka); the transforms are source-agnostic, so the
production swap is `readStream.format("kafka")` + the same
`from_json` — no operator changes. State sizing notes in
`_run_to_completion` apply unchanged.
"""

from __future__ import annotations

import json
import socket
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.streaming.jobs import bounded_replay_confs

EVENTS_WIRE_SCHEMA = (
    "event_id long, ts_us long, user_id long, event_type string, "
    "value double, props string"
)


def events_as_jsonl(spark: SparkSession, sf_dir: str, cutoff: str) -> list[str]:
    """Serialize the events slice `ts < cutoff` as JSON lines, ordered
    by event time (the delivery order a bus would replay). Timestamps
    are converted to epoch microseconds IN SPARK (`unix_micros`) so the
    wire value is exact regardless of driver timezone."""
    from kamiyo_hive_spark.catalog import table

    # Serialize in the JVM (`to_json`) and collect ready-made wire
    # lines instead of collect()-ing Rows and json.dumps-ing each in
    # driver Python (guide §4: keep bulk work out of the Python loop;
    # r10 A/B at sf0.1: the per-row dumps loop was most of this
    # helper's cost). Field renderings differ only in ways the
    # consumers (json.loads / from_json) normalize away.
    # r11: the transfer itself moves as ONE Arrow batch (`toArrow`,
    # guide §6 "Arrow for driver transfers") instead of ~10^5 pickled
    # Rows — same lines, same order (toArrow preserves partition/sort
    # order exactly as collect does). Driver memory bound: O(events in
    # the slice), the same bound the collect already had — this helper
    # IS the test-bus fixture feeding the TCP servers (VERDICT r10
    # finding 5; an unbounded production feed never materializes the
    # wire, it tails a bus).
    rows = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
        .select(
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.to_json(
                F.struct(
                    "event_id",
                    F.unix_micros("ts").alias("ts_us"),
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
            ).alias("j"),
        )
        .orderBy("ts_us", "event_id")
        .select("j")
        .toArrow()
    )
    return rows.column("j").to_pylist()


class serve_events_tcp:
    """Context manager: a real TCP server on an ephemeral localhost
    port that writes `lines` to every client and then HOLDS the
    connection open until closed (Spark's socket source fails the
    query on disconnect — the server must outlive the stream)."""

    def __init__(self, lines: list[str], host: str = "127.0.0.1"):
        self.lines = lines
        self.host = host
        self.port: int | None = None
        self._srv: socket.socket | None = None
        self._conns: list[socket.socket] = []
        # Guards _conns AND _backlog (ADVICE r6: send() used to iterate
        # _conns while the accept thread appended without a lock, and a
        # client connecting after send() never saw the staged lines).
        self._lock = threading.Lock()
        self._backlog: list[bytes] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "serve_events_tcp":
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((self.host, 0))
        self._srv.listen(4)
        self._srv.settimeout(0.2)
        self.port = self._srv.getsockname()[1]
        payload = ("\n".join(self.lines) + "\n").encode() if self.lines else b""

        def run() -> None:
            while not self._stop.is_set():
                try:
                    conn, _ = self._srv.accept()
                except socket.timeout:
                    continue
                except OSError:
                    return
                # Replay initial payload + staged backlog and register
                # atomically under the lock: a concurrent send() either
                # runs before (its lines are in the backlog we replay)
                # or after (it sees the registered conn) — exactly-once
                # either way. Localhost + line-scale payloads keep the
                # in-lock sendall short.
                with self._lock:
                    try:
                        conn.sendall(payload + b"".join(self._backlog))
                    except OSError:
                        conn.close()
                        continue
                    self._conns.append(conn)  # hold open; closed on exit

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=2)
        with self._lock:
            conns = list(self._conns)
        for c in conns:
            try:
                c.close()
            except OSError:
                pass
        if self._srv is not None:
            self._srv.close()

    def send(self, lines: list[str], timeout_s: float = 10.0) -> None:
        """Staged delivery: push more lines to every connected client
        AND stage them for clients that connect later (the backlog is
        replayed on accept, so send() is robust to connect timing).
        This is the bus 'new offsets arrived' primitive — the late-data
        tests use it to land rows in a LATER micro-batch than the one
        that advanced the watermark."""
        if not lines:
            return
        data = ("\n".join(lines) + "\n").encode()
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self._conns:
                    self._backlog.append(data)
                    for c in self._conns:
                        c.sendall(data)
                    return
            time.sleep(0.02)
        raise RuntimeError("send(): no connected client")


def partition_lines(lines: list[str], n: int) -> list[list[str]]:
    """Split JSON event lines across ``n`` bus partitions by a stable
    hash of the event id (a Kafka key-partitioner stand-in: the SAME
    event always lands on the same partition, different events spread)."""
    import hashlib

    parts: list[list[str]] = [[] for _ in range(n)]
    for ln in lines:
        eid = json.loads(ln)["event_id"]
        h = int(hashlib.md5(str(eid).encode()).hexdigest()[:15], 16)
        parts[h % n].append(ln)
    return parts


def scramble_within(lines: list[str], span_us: int) -> list[str]:
    """Deterministic OUT-OF-ORDER delivery bounded by ``span_us``: rows
    are shuffled freely inside each ``span_us`` event-time bucket but
    buckets stay ordered, so no row arrives more than one bucket late —
    pick span < the consumer's watermark delay and a correct watermark
    implementation must absorb every row. The shuffle key is an md5 of
    the line (stable across runs, uncorrelated with event time)."""
    import hashlib

    def key(ln: str) -> tuple[int, str]:
        ts_us = json.loads(ln)["ts_us"]
        return (ts_us // span_us, hashlib.md5(ln.encode()).hexdigest())

    return sorted(lines, key=key)


class serve_events_bus:
    """Context manager: an N-partition live bus — N independent TCP
    servers, each owning one partition's delivery schedule (the
    single-socket `serve_events_tcp` generalized to the reference's
    broadcast WS bus / production Kafka shape)."""

    def __init__(self, partitions: list[list[str]], host: str = "127.0.0.1"):
        self.servers = [serve_events_tcp(p, host=host) for p in partitions]

    def __enter__(self) -> "serve_events_bus":
        for s in self.servers:
            s.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        for s in self.servers:
            s.__exit__(*exc)

    @property
    def endpoints(self) -> list[tuple[str, int]]:
        return [(s.host, s.port) for s in self.servers]


def socket_events_union(
    spark: SparkSession, endpoints: list[tuple[str, int]]
) -> DataFrame:
    """Union of one socket stream per bus partition — the multi-source
    shape `readStream.format("kafka")` gives per topic-partition. Each
    source keeps its own offsets; the union is the unordered merge a
    real bus delivers, which is exactly what the watermark must absorb."""
    streams = [socket_events_stream(spark, h, p) for h, p in endpoints]
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def socket_events_stream(
    spark: SparkSession, host: str, port: int
) -> DataFrame:
    """The live twin of `_events_stream`: a TCP byte stream parsed back
    to the exact events schema. Every downstream transform sees the
    same columns/types as the file source."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value"), EVENTS_WIRE_SCHEMA).alias("e")
    ).select(
        F.col("e.event_id").alias("event_id"),
        F.timestamp_micros(F.col("e.ts_us")).alias("ts"),
        F.col("e.user_id").alias("user_id"),
        F.col("e.event_type").alias("event_type"),
        F.col("e.value").alias("value"),
        F.col("e.props").alias("props"),
    )
    return parsed


def accumulate_progress(
    progresses: list[dict], seen: int, last_batch: int
) -> tuple[int, int]:
    """Fold a (possibly ring-buffer-truncated) `recentProgress` list
    into a running (rows_seen, last_batch_id) pair. Each batchId is
    counted exactly once even when earlier entries have been evicted
    by no-data ticks (spark.sql.streaming.numRecentProgressUpdates is
    a bounded ring, default 100) — the ADVICE-r6 fix: re-summing the
    ring undercounts a slow feed once row-bearing entries age out."""
    for p in progresses:
        bid = int(p["batchId"])
        if bid > last_batch:
            seen += int(p["numInputRows"])
            last_batch = bid
    return seen, last_batch


def run_live_to_completion(
    result: DataFrame,
    name: str,
    mode: str,
    expected_rows: int,
    timeout_s: float = 120.0,
    partitions: int = 4,
    no_data_batches: bool = True,
) -> None:
    """Start the query on the live source and drive it until the total
    input row count reaches `expected_rows` (a socket has no EOF — the
    bus analogy is an offset high-watermark, which is exactly what
    numInputRows accumulates). Raises on timeout so a stalled feed is
    a loud failure, never a silently-short result.

    ``no_data_batches=False`` opts a COMPLETE-mode bounded feed out of
    the engine's empty watermark-advancement batches (they re-emit
    unchanged state — a full trigger cycle of pure overhead while the
    driver polls for the expected rows). Append-mode callers must keep
    the default: their closed-window emission FLUSHES via a no-data
    batch (tests/test_streaming_live.py pins that)."""
    with bounded_replay_confs(result, mode, partitions, no_data_batches):
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            deadline = time.monotonic() + timeout_s
            seen = 0
            last_batch = -1
            while seen < expected_rows:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"live stream {name!r}: {seen}/{expected_rows} rows "
                        f"after {timeout_s}s"
                    )
                q.processAllAvailable()
                seen, last_batch = accumulate_progress(
                    q.recentProgress, seen, last_batch
                )
                if seen < expected_rows:
                    time.sleep(0.05)
            # one final drain so the last-arrived rows are committed
            q.processAllAvailable()
        finally:
            q.stop()
