"""Event-time windowing over the events table, batch form (SURVEY.md §2.1
streaming row: the reference is batch-only, so these land first with DuckDB
oracles; the same plans run as Structured Streaming in streaming/events.py).

Spark's native window operators are exercised directly — ``F.window`` for
tumbling/sliding and ``F.session_window`` for sessionization — and the
oracles restate the semantics in ANSI SQL (time_bucket / gaps-and-islands).
Window bounds are rendered as formatted strings so the value hash is
engine-neutral.
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"
_DUCK_FMT = "%Y-%m-%d %H:%M:%S"


def ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate (count, sum, distinct users)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


EV_TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


from ..streaming.state import drain_available_now
from ..functions.materialize import materialize_once

import itertools as _itertools

_STREAM_SINK_SEQ = _itertools.count()


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour aggregate run THROUGH the streaming engine, with a
    batch result the driver can oracle (r9: the first streaming lane with
    a DuckDB hash check — previously 'streaming has no driver oracle' was
    carried as inherent).

    The events fixture is split into 4 parquet files and streamed with
    ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``, so the
    complete-mode aggregation state genuinely accumulates across ~4
    microbatches before the bounded source drains and the query stops.
    The final memory-sink table is returned as an ordinary batch
    DataFrame — identical output contract to ``ev_tumbling`` minus the
    distinct-user count (distinct aggregation is unsupported in
    streaming; the batch twin keeps it).  No watermark: complete mode
    holds all windows, which is the right semantics for a bounded
    replay; the watermarked append-mode form lives in
    ``streaming/events.py::windowed_counts`` with its own tests.
    """
    import os
    import shutil
    import tempfile

    from ..streaming.events import read_event_stream

    sink = f"stream_tumbling_counts_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_tumbling_")
    try:
        # 4-way split written locally: the fixture is ONE parquet file and
        # a file-source microbatch is (up to) maxFilesPerTrigger files, so
        # a single symlink would collapse the run into one batch and test
        # nothing incremental.
        load_table(spark, sf_dir, "events").repartition(4).write.parquet(
            os.path.join(tmp, "in")
        )
        stream = read_event_stream(
            spark, os.path.join(tmp, "in"), max_files_per_trigger=1
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        drain_available_now(
            spark,
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # Eager localCheckpoint BEFORE dropping the memory-sink view: the
    # result rows are materialized as an RDD the returned plan scans, so
    # the caller can collect any time later while repeated invocations
    # (bench passes, parity sweeps) leave no per-call temp view holding
    # its rows in driver memory for the session's lifetime.
    out = (
        spark.table(sink)
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(sink)
    return out.orderBy("window_start", "event_type")


STREAM_TUMBLING_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def stream_tcp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replayable TCP line source driven end-to-end under a driver
    hash (VERDICT r10 next #3: ``sources/tcp_lines.py`` was the one r10
    source family with pytest evidence only).

    An in-process TCP feeder serves a nation-derived line feed — each
    nation row emitted ``n_nationkey % 3 + 1`` times as
    ``"<n_name>,<n_nationkey>"`` — then closes the connection, which
    under ``onEof=complete`` is the end-of-stream signal: the receiver
    spools every complete line, the offset plateaus, and the lane waits
    until the memory sink holds exactly the expected line count (append
    mode delivers each spooled line exactly once) before stopping the
    query.  The returned rollup (lines + key-sum per species) is
    value-sensitive to every hop — socket framing, spool flush,
    byte-range split, line re-read — and the oracle recomputes it from
    the nation fixture, so a loss, duplicate, or mis-split anywhere
    breaks the hash.

    The 25-row nation dimension is materialized driver-side to build the
    feed (bounded by construction, the ``scrape_pipeline_live``
    precedent); executors read the spool file directly, as they would on
    shared storage in cluster mode.
    """
    import os
    import shutil
    import socketserver
    import tempfile
    import threading
    import time

    from ..sources.tcp_lines import register_tcp_lines_source

    nation = load_table(spark, sf_dir, "nation").select(
        "n_name", "n_nationkey"
    )
    lines = [
        f"{r.n_name},{r.n_nationkey}"
        for r in nation.collect()
        for _ in range(int(r.n_nationkey) % 3 + 1)
    ]
    payload = ("\n".join(lines) + "\n").encode()
    n_expected = len(lines)

    class _Feeder(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(payload)
            # returning closes the socket: clean EOF = end-of-stream
            # under onEof=complete

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Feeder)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    register_tcp_lines_source(spark)
    sink = f"stream_tcp_counts_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_tcp_")
    try:
        q = (
            spark.readStream.format("tcp_lines")
            .option("host", "127.0.0.1")
            .option("port", srv.server_address[1])
            .option("spool", os.path.join(tmp, "spool"))
            .option("onEof", "complete")
            .load()
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 120
        while spark.table(sink).count() < n_expected:
            if q.exception() is not None:
                raise RuntimeError(
                    f"stream_tcp_counts query failed: {q.exception()}"
                )
            if time.time() > deadline:
                raise RuntimeError(
                    "stream_tcp_counts: sink has"
                    f" {spark.table(sink).count()}/{n_expected} lines"
                    " after 120s — the TCP feed did not drain"
                )
            time.sleep(0.2)
        q.stop()
        q.awaitTermination()
        out = spark.table(sink).localCheckpoint(eager=True)
    finally:
        srv.shutdown()
        srv.server_close()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    parsed = out.select(
        F.split("value", ",").alias("p")
    ).select(
        F.col("p")[0].alias("species"),
        F.col("p")[1].cast("bigint").alias("key"),
    )
    return (
        parsed.groupBy("species")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("key").alias("key_total"),
        )
        .orderBy("species")
    )


STREAM_TCP_COUNTS_ORACLE = """
SELECT n_name AS species,
       CAST(n_nationkey % 3 + 1 AS BIGINT) AS n_lines,
       CAST(n_nationkey * (n_nationkey % 3 + 1) AS BIGINT) AS key_total
FROM nation
ORDER BY species
"""


def stream_tcp_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TCP source's CHECKPOINT-RESTART replay path under a driver
    hash (r11; `stream_tcp_counts` drives the single-run happy path —
    this lane drives the contract that makes the source more than a
    demo: stop a query mid-feed, restart it on the same spool +
    checkpoint against a NEW feeder endpoint, and end with every line
    exactly once).

    Two feeders serve the nation-derived feed split in half.  Query run
    1 drains feeder 1 into an exactly-once FILE sink (the memory sink
    would lose run 1's batches on restart — only the file sink's commit
    log carries delivered batches across runs) and is stopped.  Query
    run 2 reuses the checkpoint: committed spool offsets replay nothing,
    an uncommitted trailing batch is re-emitted and deduplicated by the
    sink's batchId log, the receiver reconnects (to the second feeder's
    port — endpoint moves are a restart-time option change, the spool
    identity guard still holds), and the second half appends beyond the
    checkpointed offset.  The final parquet is the full multiset exactly
    once; the same per-species rollup as ``stream_tcp_counts`` then
    hashes against the same nation oracle — a lost, duplicated, or
    misattributed line in EITHER run, or a replay that double-lands,
    breaks the hash.
    """
    import os
    import shutil
    import socketserver
    import tempfile
    import threading
    import time

    from ..sources.tcp_lines import register_tcp_lines_source

    nation = load_table(spark, sf_dir, "nation").select(
        "n_name", "n_nationkey"
    )
    lines = [
        f"{r.n_name},{r.n_nationkey}"
        for r in nation.collect()
        for _ in range(int(r.n_nationkey) % 3 + 1)
    ]
    halves = [lines[: len(lines) // 2], lines[len(lines) // 2 :]]

    def _feeder(payload_lines):
        payload = ("\n".join(payload_lines) + "\n").encode()

        class _H(socketserver.BaseRequestHandler):
            def handle(self):
                self.request.sendall(payload)

        srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _H)
        srv.daemon_threads = True
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    register_tcp_lines_source(spark)
    tmp = tempfile.mkdtemp(prefix="stream_tcp_restart_")
    out_dir = os.path.join(tmp, "out")

    def _sink_count() -> int:
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:
            return 0

    def _run_until(port: int, target: int) -> None:
        q = (
            spark.readStream.format("tcp_lines")
            .option("host", "127.0.0.1")
            .option("port", port)
            .option("spool", os.path.join(tmp, "spool"))
            .option("onEof", "complete")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 120
            while _sink_count() < target:
                if q.exception() is not None:
                    raise RuntimeError(
                        f"stream_tcp_restart query failed: {q.exception()}"
                    )
                if time.time() > deadline:
                    raise RuntimeError(
                        f"stream_tcp_restart: sink has {_sink_count()}"
                        f"/{target} lines after 120s"
                    )
                time.sleep(0.2)
        finally:
            q.stop()
            q.awaitTermination()

    try:
        srv1 = _feeder(halves[0])
        try:
            _run_until(srv1.server_address[1], len(halves[0]))
        finally:
            srv1.shutdown()
            srv1.server_close()
        srv2 = _feeder(halves[1])
        try:
            _run_until(srv2.server_address[1], len(lines))
        finally:
            srv2.shutdown()
            srv2.server_close()
        out = spark.read.parquet(out_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    parsed = out.select(F.split("value", ",").alias("p")).select(
        F.col("p")[0].alias("species"),
        F.col("p")[1].cast("bigint").alias("key"),
    )
    return (
        parsed.groupBy("species")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("key").alias("key_total"),
        )
        .orderBy("species")
    )


def _staged_event_stream_run(
    spark: SparkSession,
    sf_dir: str,
    build,
    *,
    slices: int = 4,
    replay_every: int | None = None,
    output_mode: str = "append",
    sink_prefix: str = "stream",
) -> DataFrame:
    """Replay the events fixture through the streaming engine in event-time
    order and return the memory sink as an eager batch DataFrame.

    The fixture is ONE unordered parquet file; a watermarked stateful
    query fed a shuffled replay would late-drop most rows and test
    nothing.  Real streams arrive roughly time-ordered, so this stages
    ``slices`` ts-range files (``repartitionByRange`` part files are
    range-ordered by part number) with strictly increasing mtimes — the
    file source processes oldest-mtime first, making microbatch order
    deterministic — and the 1-file-per-trigger drain advances the
    watermark slice by slice, exactly like a live source.  Contiguous
    ts ranges + a watermark delay longer than any ts overlap mean NO
    original row is ever late: everything the oracle counts is counted.

    ``replay_every``: additionally re-deliver every Nth event (by id)
    as a FINAL microbatch — an at-least-once source's replayed records
    — for dedup lanes to suppress.

    The returned DataFrame is ``localCheckpoint(eager=True)``-ed and the
    per-run memory view dropped, so repeated invocations (bench passes,
    parity sweeps) leak neither temp views nor sink rows.
    """
    import glob
    import os
    import shutil
    import tempfile
    import time

    from ..streaming.events import read_event_stream

    sink = f"{sink_prefix}_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix=f"{sink_prefix}_")
    try:
        events = load_table(spark, sf_dir, "events")
        stage = os.path.join(tmp, "stage")
        indir = os.path.join(tmp, "in")
        os.makedirs(indir)
        events.repartitionByRange(slices, "ts").write.parquet(stage)
        parts = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
        if replay_every is not None:
            rp = os.path.join(tmp, "replay")
            events.where(
                F.col("event_id") % replay_every == 0
            ).coalesce(1).write.parquet(rp)
            parts += sorted(glob.glob(os.path.join(rp, "part-*.parquet")))
        base = time.time() - 10 * (len(parts) + 1)
        for i, p in enumerate(parts):
            dst = os.path.join(indir, f"batch-{i:02d}.parquet")
            shutil.move(p, dst)
            os.utime(dst, (base + 10 * i, base + 10 * i))
        stream = read_event_stream(spark, indir, max_files_per_trigger=1)
        drain_available_now(
            spark,
            build(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
        )
        out = spark.table(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out


def _events_watermark_cutoff(spark: SparkSession, sf_dir: str, hours: int):
    """max(ts) − ``hours`` — a bound strictly below the drained stream's
    final watermark (max(ts) − 1h), so 'window end ≤ cutoff' selects only
    windows GUARANTEED emitted in append mode, independent of how the
    engine's emit comparator treats the boundary."""
    import datetime

    mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    return mx - datetime.timedelta(hours=hours)


def stream_dedup_replayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state dedup driven end-to-end (VERDICT r9 #2):
    the fixture is streamed in event-time order PLUS a final microbatch
    re-delivering every 10th event — an at-least-once source's replays —
    through ``dropDuplicatesWithinWatermark`` (bounded state: keys evict
    once the watermark passes their event time, the 100-TB-safe form).

    Every replayed record is suppressed deterministically: its key is
    either still in state (recent events — watermark < ts + delay) or
    its event time is already below the watermark and it is dropped as
    late input.  Output therefore equals the original events exactly,
    which is what the oracle states — if dedup under-suppressed, the
    row count breaks; if it over-dropped originals, the hash breaks.
    """
    from ..streaming.events import stream_dedup_within_watermark

    out = _staged_event_stream_run(
        spark,
        sf_dir,
        lambda s: stream_dedup_within_watermark(s, "1 hour"),
        replay_every=10,
        sink_prefix="stream_dedup_replayed",
    )
    return out.select(
        "event_id",
        F.date_format("ts", _FMT).alias("ts_s"),
        "user_id",
        "event_type",
        F.round("value", 2).alias("value_r"),
    ).orderBy("event_id")


STREAM_DEDUP_REPLAYED_ORACLE = f"""
SELECT event_id,
       strftime(ts, '{_DUCK_FMT}') AS ts_s,
       user_id,
       event_type,
       round(value, 2) AS value_r
FROM events
ORDER BY event_id
"""


def stream_session_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with append-mode watermark flush, driven
    end-to-end (VERDICT r9 #2): ``session_window`` state merges across
    microbatches and each session is emitted ONCE, when the watermark
    passes its end.  The drained stream's final watermark is
    max(ts) − 1h, so restricting both engines to sessions ending ≥ 2 h
    before max(ts) makes the emitted set deterministic (measured: the
    final no-data microbatch flushes everything below the watermark).

    Session end is reported as max(ts) (engine-neutral, matching the
    batch twin ``ev_sessionization``); the watermark-delay (1 h) >
    session gap (15 min) invariant guarantees no session is emitted
    before a mergeable event can still arrive.
    """
    cutoff = _events_watermark_cutoff(spark, sf_dir, 2)

    def build(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
        )

    out = _staged_event_stream_run(
        spark, sf_dir, build, sink_prefix="stream_session_flush"
    )
    return (
        out.where(F.col("w.end") <= F.lit(cutoff))
        .select(
            "user_id",
            F.date_format("first_ts", _FMT).alias("session_start"),
            F.date_format("last_ts", _FMT).alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


STREAM_SESSION_FLUSH_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '15 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), islands AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{_DUCK_FMT}') AS session_start,
       strftime(max(ts), '{_DUCK_FMT}') AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM islands
GROUP BY user_id, session_id
HAVING max(ts) + INTERVAL '15 minutes'
       <= (SELECT max(ts) FROM events) - INTERVAL '2 hours'
ORDER BY user_id, session_start
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join driven end-to-end (the JOIN-state
    family, completing the r10 stateful coverage: agg state =
    session/OHLC flush, dedup state = replayed dedup, join state = this).
    Views match that user's clicks in the next 30 minutes; both sides
    are filtered projections of ONE staged stream (a streaming
    self-join), each carrying its own watermark.

    No emission cutoff is needed: inner-join pairs emit as soon as both
    rows have arrived, and the losslessness invariant is structural —
    a view is evicted only once the watermark passes view_ts + 30min,
    and every click that could still match has click_ts ≤ view_ts +
    30min < watermark ≤ any future batch's event times (the staging is
    event-time ordered with a 1 h delay > the 30 min join window), so
    eviction can never race a pending match.  The oracle is the plain
    relational interval join.
    """
    from ..streaming.events import view_click_interval_join

    out = _staged_event_stream_run(
        spark,
        sf_dir,
        lambda s: view_click_interval_join(s, "30 minutes"),
        sink_prefix="stream_interval_join",
    )
    return out.select(
        "user_id",
        "view_id",
        "click_id",
        F.date_format("view_ts", _FMT).alias("view_ts_s"),
        F.date_format("click_ts", _FMT).alias("click_ts_s"),
    ).orderBy("user_id", "view_id", "click_id")


STREAM_INTERVAL_JOIN_ORACLE = f"""
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       strftime(v.ts, '{_DUCK_FMT}') AS view_ts_s,
       strftime(c.ts, '{_DUCK_FMT}') AS click_ts_s
FROM events v
JOIN events c
  ON c.user_id = v.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL '30 minutes'
WHERE v.event_type = 'view' AND c.event_type = 'click'
ORDER BY v.user_id, view_id, click_id
"""


def stream_delta_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOREIGN-Delta-log streaming source driven end-to-end under a
    driver hash (VERDICT r16 next #7): the events fixture is staged as
    FOUR append commits of a hand-written ``_delta_log`` (the public
    protocol layout — the same staging discipline as
    ``delta_read_snapshot``) and tailed with the version-offset source
    (``sources/delta_stream.py`` — one microbatch per commit, input
    partitions = exactly the files each commit added, never a rescan).
    A complete-mode tumbling aggregate accumulates across the four
    version-batches and the drained memory sink is oracled like any
    batch query — ``stream_manifest_tail``'s twin with the external
    layout under test instead of the engine's own format.
    """
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from ..sources.delta_stream import register_delta_stream_source

    register_delta_stream_source(spark)
    sink = f"stream_delta_tail_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_delta_tail_")
    try:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        table = os.path.join(tmp, "tbl")
        os.makedirs(os.path.join(table, "_delta_log"))
        for i in range(4):  # 4 commits -> 4 version-offset microbatches
            stage = os.path.join(tmp, f"stage{i}")
            events.where(F.col("event_id") % 4 == i).coalesce(
                1
            ).write.parquet(stage)
            (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            rel = f"part-{i:04d}.parquet"
            shutil.copyfile(src, os.path.join(table, rel))
            actions = []
            if i == 0:
                actions.append(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2,
                        }
                    }
                )
                actions.append(
                    {
                        "metaData": {
                            "id": "0" * 32,
                            "format": {
                                "provider": "parquet",
                                "options": {},
                            },
                            "schemaString": events.schema.json(),
                            "partitionColumns": [],
                            "configuration": {},
                        }
                    }
                )
            actions.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(table, rel)),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
            with open(
                os.path.join(table, "_delta_log", f"{i:020d}.json"), "w"
            ) as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        stream = (
            spark.readStream.format("delta_tail")
            .option("path", table)
            .load()
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        drain_available_now(
            spark,
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
        )
        out = (
            spark.table(sink)
            .select(
                F.date_format("w.start", _FMT).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out.orderBy("window_start", "event_type")


# identical aggregate contract to stream_tumbling_counts — this lane
# differs in the SOURCE under test (foreign _delta_log version tailing)
STREAM_DELTA_TAIL_ORACLE = STREAM_TUMBLING_ORACLE


def stream_delta_cdf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOREIGN-Delta-log streaming CHANGE DATA FEED driven
    end-to-end under a driver hash (VERDICT r17 next #7) —
    ``stream_delta_tail`` streams appends only; this lane streams the
    readChangeFeed shape (``sources/delta_cdf_stream.py``: version
    offsets composed with the batch feed's multiset-diff algebra).
    Staged history over the events fixture:

    - v0: insert the ``event_id % 3 == 0`` slice;
    - v1: insert the ``% 3 == 1`` slice;
    - v2: UPDATE — rewrite v0's file with ``cents`` doubled where
      ``event_id % 2 == 0`` (the feed must surface exactly the changed
      rows as delete-pre-image + insert-post-image; carried rows
      cancel in the net diff, executed in ONE rewrite-fold task);
    - v3: DELETE v1's file (every row streams as a delete).

    The drained append-mode sink is rolled up per (commit version,
    change type, event type) and oracled relationally — deterministic
    because the feed is an exact multiset, whatever the microbatch
    boundaries.
    """
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from ..sources.delta_cdf_stream import register_delta_cdf_stream_source

    register_delta_cdf_stream_source(spark)
    sink = f"stream_delta_cdf_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_delta_cdf_")
    try:
        events = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        table = os.path.join(tmp, "tbl")
        os.makedirs(os.path.join(table, "_delta_log"))

        def _stage(df, rel: str) -> dict:
            stage = os.path.join(tmp, f"stage_{rel}")
            df.coalesce(1).write.parquet(stage)
            (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.copyfile(src, os.path.join(table, rel))
            return {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(table, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }

        def _commit(v: int, actions: list) -> None:
            with open(
                os.path.join(table, "_delta_log", f"{v:020d}.json"), "w"
            ) as fh:
                for a in actions:
                    fh.write(_json.dumps(a) + "\n")

        s0 = events.where(F.col("event_id") % 3 == 0).orderBy("event_id")
        s1 = events.where(F.col("event_id") % 3 == 1).orderBy("event_id")
        a0 = _stage(s0, "f0.parquet")
        _commit(
            0,
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "0" * 32,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": s0.schema.json(),
                        "partitionColumns": [],
                        "configuration": {},
                    }
                },
                a0,
            ],
        )
        a1 = _stage(s1, "f1.parquet")
        _commit(1, [a1])
        updated = s0.withColumn(
            "cents",
            F.when(
                F.col("event_id") % 2 == 0, F.col("cents") * 2
            ).otherwise(F.col("cents")),
        )
        a2 = _stage(updated, "f0b.parquet")
        _commit(
            2, [a2, {"remove": {"path": "f0.parquet", "dataChange": True}}]
        )
        _commit(3, [{"remove": {"path": "f1.parquet", "dataChange": True}}])

        stream = (
            spark.readStream.format("delta_cdf_tail")
            .option("path", table)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        out = (
            spark.table(sink)
            .groupBy("_commit_version", "_change_type", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out.orderBy("_commit_version", "_change_type", "event_type")


STREAM_DELTA_CDF_ORACLE = """
WITH e AS (
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
), ch AS (
    SELECT 0 AS v, 'insert' AS ct, event_type, cents
    FROM e WHERE event_id % 3 = 0
    UNION ALL
    SELECT 1, 'insert', event_type, cents FROM e WHERE event_id % 3 = 1
    UNION ALL
    SELECT 2, 'delete', event_type, cents
    FROM e WHERE event_id % 3 = 0 AND event_id % 2 = 0 AND cents <> 0
    UNION ALL
    SELECT 2, 'insert', event_type, cents * 2
    FROM e WHERE event_id % 3 = 0 AND event_id % 2 = 0 AND cents <> 0
    UNION ALL
    SELECT 3, 'delete', event_type, cents FROM e WHERE event_id % 3 = 1
)
SELECT CAST(v AS INTEGER) AS _commit_version, ct AS _change_type,
       event_type, count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ch
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def stream_iceberg_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg-layout streaming source driven end-to-end under a
    driver hash — ``stream_delta_tail``'s twin for the snapshot-offset
    source (``sources/iceberg_stream.py``): the events fixture is
    staged as FOUR append snapshots of a hand-written Hadoop layout
    (metadata JSON + real Avro manifest lists/manifests via the
    engine's own ``avro_ocf.write_avro``, unpartitioned spec), tailed
    with one microbatch per snapshot (input partitions = exactly the
    files each snapshot added, never a rescan), drained through the
    same complete-mode tumbling aggregate, and oracled like any batch
    query.
    """
    import glob
    import json as _json
    import os
    import shutil
    import tempfile

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_stream import register_iceberg_stream_source

    register_iceberg_stream_source(spark)
    sink = f"stream_iceberg_tail_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_iceberg_tail_")
    try:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        table = os.path.join(tmp, "tbl")
        mdir = os.path.join(table, "metadata")
        ddir = os.path.join(table, "data")
        os.makedirs(mdir)
        os.makedirs(ddir)
        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }
        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }
        files: list[tuple[str, int]] = []  # (path, rows) staged so far
        snaps = []
        for i in range(4):  # 4 snapshots -> 4 offset microbatches
            stage = os.path.join(tmp, f"stage{i}")
            part = events.where(F.col("event_id") % 4 == i)
            n = part.count()
            part.coalesce(1).write.parquet(stage)
            (src,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            dst = os.path.join(ddir, f"f{i}.parquet")
            shutil.copyfile(src, dst)
            files.append((dst, n))
            m = os.path.join(mdir, f"m{i}.avro")
            write_avro(
                [
                    {
                        "status": 1 if j == len(files) - 1 else 0,
                        "snapshot_id": None,
                        "data_file": {
                            "content": 0,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rows,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for j, (fp, rows) in enumerate(files)
                ],
                man_schema,
                m,
            )
            mlist = os.path.join(mdir, f"snap-{i}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": 0,
                        "added_snapshot_id": 100 + i,
                    }
                ],
                mlist_schema,
                mlist,
            )
            snaps.append(
                {
                    "snapshot-id": 100 + i,
                    "timestamp-ms": 1700000000000 + i,
                    "manifest-list": mlist,
                    "summary": {"operation": "append"},
                }
            )
        ice_type = {
            "bigint": "long",
            "double": "double",
            "string": "string",
            "timestamp_ntz": "timestamp",
            "timestamp": "timestamptz",
        }
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 4,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": [
                                {
                                    "id": j + 1,
                                    "name": name,
                                    "required": False,
                                    "type": ice_type[dtype],
                                }
                                for j, (name, dtype) in enumerate(
                                    events.dtypes
                                )
                            ],
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [{"spec-id": 0, "fields": []}],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 103,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        stream = (
            spark.readStream.format("iceberg_tail")
            .option("path", table)
            .load()
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        drain_available_now(
            spark,
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
        )
        out = (
            spark.table(sink)
            .select(
                F.date_format("w.start", _FMT).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out.orderBy("window_start", "event_type")


# same aggregate contract; the SOURCE under test is the Iceberg
# snapshot-offset tail
STREAM_ICEBERG_TAIL_ORACLE = STREAM_TUMBLING_ORACLE


def stream_iceberg_cdf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg-layout streaming CHANGE DATA FEED driven end-to-end
    under a driver hash — ``stream_delta_cdf_tail``'s twin for the
    snapshot-offset source (``sources/iceberg_cdf_stream.py``: the
    batch manifest-walk multiset-diff algebra composed with snapshot-id
    offsets).  Staged Hadoop-layout history over the events fixture
    (real Avro manifests via the engine's own ``avro_ocf.write_avro``,
    unpartitioned spec, pandas-staged data files so position-delete row
    indexes are deterministic):

    - snapshot 100: insert the ``event_id % 3 == 0`` slice (f0);
    - snapshot 200: insert the ``% 3 == 1`` slice (f1);
    - snapshot 300: a DELETE manifest whose position-delete file masks
      every present row with ``event_id % 7 == 0`` (the
      delete-coverage-change step: affected files diff under
      old-vs-new delete sets in ONE fold task, carried rows cancel);
    - snapshot 400: drop f1 from the data manifest (its still-live
      rows stream as deletes under the OLD delete set — the rows
      already masked at 300 must not resurrect).

    The drained append-mode sink is rolled up per (snapshot, change
    type, event type) and oracled relationally — deterministic because
    the feed is an exact multiset, whatever the microbatch boundaries.
    """
    import json as _json
    import os
    import shutil
    import tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..sources.avro_ocf import write_avro
    from ..sources.iceberg_cdf_stream import (
        register_iceberg_cdf_stream_source,
    )

    register_iceberg_cdf_stream_source(spark)
    sink = f"stream_iceberg_cdf_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_iceberg_cdf_")
    try:
        pdf = (
            load_table(spark, sf_dir, "events")
            .select(
                "event_id",
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
            .where(F.col("event_id") % 3 < 2)
            .toPandas()
            .sort_values("event_id", kind="mergesort")
            .reset_index(drop=True)
        )
        table = os.path.join(tmp, "tbl")
        mdir = os.path.join(table, "metadata")
        ddir = os.path.join(table, "data")
        os.makedirs(mdir)
        os.makedirs(ddir)

        def _stage(slice_pdf, name):
            grp = slice_pdf.reset_index(drop=True)
            fp = os.path.join(ddir, name)
            _pq.write_table(
                _pa.table(
                    {
                        "event_id": _pa.array(grp["event_id"], _pa.int64()),
                        "event_type": _pa.array(grp["event_type"]),
                        "cents": _pa.array(grp["cents"], _pa.int64()),
                    }
                ),
                fp,
            )
            dels = [
                (fp, int(pos))
                for pos in grp.index[grp["event_id"] % 7 == 0]
            ]
            return fp, len(grp), dels

        f0, n0, d0 = _stage(pdf[pdf["event_id"] % 3 == 0], "f0.parquet")
        f1, n1, d1 = _stage(pdf[pdf["event_id"] % 3 == 1], "f1.parquet")
        del_rows = d0 + d1
        pd_path = os.path.join(ddir, "pos-deletes.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "file_path": _pa.array([f for f, _ in del_rows]),
                    "pos": _pa.array([p for _, p in del_rows], _pa.int64()),
                }
            ),
            pd_path,
        )

        man_schema = {
            "type": "record",
            "name": "manifest_entry",
            "fields": [
                {"name": "status", "type": "int"},
                {
                    "name": "snapshot_id",
                    "type": ["null", "long"],
                    "default": None,
                },
                {
                    "name": "data_file",
                    "type": {
                        "type": "record",
                        "name": "r2",
                        "fields": [
                            {"name": "content", "type": "int"},
                            {"name": "file_path", "type": "string"},
                            {"name": "file_format", "type": "string"},
                            {
                                "name": "partition",
                                "type": {
                                    "type": "record",
                                    "name": "r102",
                                    "fields": [],
                                },
                            },
                            {"name": "record_count", "type": "long"},
                            {"name": "file_size_in_bytes", "type": "long"},
                        ],
                    },
                },
            ],
        }
        mlist_schema = {
            "type": "record",
            "name": "manifest_file",
            "fields": [
                {"name": "manifest_path", "type": "string"},
                {"name": "manifest_length", "type": "long"},
                {"name": "partition_spec_id", "type": "int"},
                {"name": "content", "type": "int"},
                {"name": "added_snapshot_id", "type": "long"},
            ],
        }

        def _manifest(name, entries, content):
            p = os.path.join(mdir, name)
            write_avro(
                [
                    {
                        "status": st,
                        "snapshot_id": None,
                        "data_file": {
                            "content": content,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": n,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for st, fp, n in entries
                ],
                man_schema,
                p,
            )
            return p

        def _snapshot(snap_id, manifests, contents):
            mlist = os.path.join(mdir, f"snap-{snap_id}.avro")
            write_avro(
                [
                    {
                        "manifest_path": m,
                        "manifest_length": os.path.getsize(m),
                        "partition_spec_id": 0,
                        "content": c,
                        "added_snapshot_id": snap_id,
                    }
                    for m, c in zip(manifests, contents)
                ],
                mlist_schema,
                mlist,
            )
            return {
                "snapshot-id": snap_id,
                "timestamp-ms": 1700000000000 + snap_id,
                "manifest-list": mlist,
                "summary": {"operation": "append"},
            }

        m1 = _manifest("m1.avro", [(1, f0, n0)], 0)
        m2 = _manifest("m2.avro", [(0, f0, n0), (1, f1, n1)], 0)
        md = _manifest("md.avro", [(1, pd_path, len(del_rows))], 1)
        m3 = _manifest("m3.avro", [(0, f0, n0)], 0)
        snaps = [
            _snapshot(100, [m1], [0]),
            _snapshot(200, [m2], [0]),
            _snapshot(300, [m2, md], [0, 1]),
            _snapshot(400, [m3, md], [0, 1]),
        ]
        with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
            _json.dump(
                {
                    "format-version": 2,
                    "table-uuid": "0" * 32,
                    "location": table,
                    "last-column-id": 3,
                    "schemas": [
                        {
                            "type": "struct",
                            "schema-id": 0,
                            "fields": [
                                {
                                    "id": 1,
                                    "name": "event_id",
                                    "required": False,
                                    "type": "long",
                                },
                                {
                                    "id": 2,
                                    "name": "event_type",
                                    "required": False,
                                    "type": "string",
                                },
                                {
                                    "id": 3,
                                    "name": "cents",
                                    "required": False,
                                    "type": "long",
                                },
                            ],
                        }
                    ],
                    "current-schema-id": 0,
                    "partition-specs": [{"spec-id": 0, "fields": []}],
                    "default-spec-id": 0,
                    "snapshots": snaps,
                    "current-snapshot-id": 400,
                },
                fh,
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write("1")

        stream = (
            spark.readStream.format("iceberg_cdf_tail")
            .option("path", table)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        out = (
            spark.table(sink)
            .groupBy("_snapshot_id", "_change_type", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out.orderBy("_snapshot_id", "_change_type", "event_type")


STREAM_ICEBERG_CDF_ORACLE = """
WITH e AS (
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 3 < 2
), ch AS (
    SELECT 100 AS sid, 'insert' AS ct, event_type, cents
    FROM e WHERE event_id % 3 = 0
    UNION ALL
    SELECT 200, 'insert', event_type, cents FROM e WHERE event_id % 3 = 1
    UNION ALL
    SELECT 300, 'delete', event_type, cents FROM e WHERE event_id % 7 = 0
    UNION ALL
    SELECT 400, 'delete', event_type, cents
    FROM e WHERE event_id % 3 = 1 AND event_id % 7 <> 0
)
SELECT CAST(sid AS BIGINT) AS _snapshot_id, ct AS _change_type,
       event_type, count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ch
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def stream_manifest_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TABLE-FORMAT streaming source driven end-to-end under a
    driver hash: the events fixture is committed as FOUR versions of a
    manifest table (``sources/manifest_table.py``) and tailed with the
    version-offset streaming source (``sources/manifest_stream.py`` —
    the Delta-streaming shape: one microbatch per committed version,
    input partitions = exactly the files each commit added, never a
    table rescan).  A complete-mode tumbling aggregate accumulates
    across the four version-batches and the drained memory sink is
    oracled like any batch query — covering the source family the other
    stream_* lanes (file source) do not.
    """
    import os
    import shutil
    import tempfile

    from ..sources.manifest_stream import register_manifest_stream_source
    from ..sources.manifest_table import write_manifest_table

    register_manifest_stream_source(spark)
    sink = f"stream_manifest_tail_{next(_STREAM_SINK_SEQ)}"
    tmp = tempfile.mkdtemp(prefix="stream_manifest_tail_")
    try:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        tbl = os.path.join(tmp, "tbl")
        for i in range(4):  # 4 commits -> 4 version-offset microbatches
            write_manifest_table(
                events.where(F.col("event_id") % 4 == i), tbl
            )
        stream = (
            spark.readStream.format("manifest_stream")
            .option("path", tbl)
            .load()
        )
        agg = stream.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        drain_available_now(
            spark,
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
        )
        out = (
            spark.table(sink)
            .select(
                F.date_format("w.start", _FMT).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            spark.catalog.dropTempView(sink)
        except Exception:
            pass
    return out.orderBy("window_start", "event_type")


# identical aggregate contract to stream_tumbling_counts — this lane
# differs in the SOURCE under test (manifest version tailing vs file
# source), not the aggregation
STREAM_MANIFEST_TAIL_ORACLE = STREAM_TUMBLING_ORACLE


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (``applyInPandasWithState``) driven
    end-to-end under a driver hash — the last stateful family without
    one (agg/dedup/join state got theirs earlier in r10; pytest already
    batch-vs-stream-validates this lane, `tests/test_streaming.py`).

    Update-mode emissions depend on microbatch boundaries (one running-
    total row per user per batch the user appears in), which would make
    a hash unstable — so the query extracts the BATCHING-INVARIANT
    projection: per-user ``max_by`` over the monotone running counter,
    i.e. each user's FINAL totals, which equal the batch groupBy no
    matter how the stream was sliced.  The oracle states exactly that.
    """
    from ..streaming.events import stateful_user_totals

    out = _staged_event_stream_run(
        spark,
        sf_dir,
        stateful_user_totals,
        output_mode="update",
        sink_prefix="stream_stateful_totals",
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


STREAM_STATEFUL_TOTALS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_ohlc_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars with append-mode watermark eviction, driven
    end-to-end (VERDICT r9 #2): min_by/max_by bar state closes when the
    watermark passes each hour boundary.  Same determinism bound as
    ``stream_session_flush``: bars ending ≥ 2 h before max(ts) are
    strictly below the final watermark, so both engines agree on the
    emitted set; the oracle is the batch ``ev_ohlc_bars`` restatement
    with the matching bucket bound."""
    from ..streaming.events import ohlc_bars_stream

    cutoff = _events_watermark_cutoff(spark, sf_dir, 2)
    out = _staged_event_stream_run(
        spark,
        sf_dir,
        lambda s: ohlc_bars_stream(s, "1 hour"),
        sink_prefix="stream_ohlc_flush",
    )
    return (
        out.where(
            F.to_timestamp("window_start", _FMT) + F.expr("INTERVAL 1 HOUR")
            <= F.lit(cutoff)
        )
        .select(
            "window_start", "event_type", "open", "high", "low", "close", "n"
        )
        .orderBy("window_start", "event_type")
    )


STREAM_OHLC_FLUSH_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
       event_type,
       round(arg_min(value, epoch_ms(ts)::HUGEINT * 4294967296 + event_id), 2)
           AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, epoch_ms(ts)::HUGEINT * 4294967296 + event_id), 2)
           AS close,
       count(*) AS n
FROM events
WHERE date_trunc('hour', ts) + INTERVAL '1 hour'
      <= (SELECT max(ts) FROM events) - INTERVAL '2 hours'
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1 hour wide, every 30 minutes (each event lands in 2)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum not avg: small windows make avg land exactly on rounding
            # boundaries where engine summation order flips the hash; the
            # sum of 2-decimal values rounds exactly.
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


EV_SLIDING_ORACLE = f"""
WITH assigned AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts)
               - k * INTERVAL '30 minutes' AS wstart,
           value
    FROM events, (VALUES (0), (1)) AS offs(k)
)
SELECT strftime(wstart, '{_DUCK_FMT}') AS window_start,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM assigned
GROUP BY 1
ORDER BY window_start
"""


def ev_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 15-minute inactivity gap, per user.

    Uses Spark's native ``session_window`` (dynamic merging windows); the
    oracle restates it as gaps-and-islands.  Session end is reported as the
    max event ts (not ts+gap) to keep the output engine-neutral.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "15 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("ts").alias("last_ts"),
            F.min("ts").alias("first_ts"),
        )
        .select(
            "user_id",
            F.date_format("first_ts", _FMT).alias("session_start"),
            F.date_format("last_ts", _FMT).alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


EV_SESSION_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL '15 minutes'
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), islands AS (
    SELECT user_id, ts, value,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{_DUCK_FMT}') AS session_start,
       strftime(max(ts), '{_DUCK_FMT}') AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM islands
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def ev_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts by type, one column per type."""
    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "user_id", *[F.col(t).cast("long").alias(f"n_{t}") for t in types]
        )
        .orderBy("user_id")
    )


EV_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'error') AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'view') AS n_view
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def ev_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense (day x event_type) grid via
    ``sequence``+``explode``, zero-filled where no events landed.

    The day spine is generated from the observed min/max (1-row aggregate,
    broadcast into the cross join with the distinct-type dimension); daily
    aggregates left-join onto the grid.  At scale the grid is tiny compared
    to the fact table — the only fact shuffle is the daily groupBy, and
    (r16) the only fact SCAN is the daily groupBy too: bounds and the
    type dimension are re-derived from the lazily-checkpointed ``daily``
    frame (min/max of truncated days == truncated min/max of ts;
    distinct types survive aggregation), where the r10–r15 shape
    re-scanned the fact table for each — 3 full scans per run, which at
    100 TB is 3x the dominant cost.  Measured honestly at fixture scale
    (r16 interleaved A/B, 10 alternations, equality asserted first):
    0.88x — the checkpoint materialization costs ~12% locally where
    fact scans are nearly free, the price of the 3x scan cut; jobs
    unchanged at 7.  The r15 bench-row inflation itself adjudicated as
    box, not plan (0ba482d:scripts/r16_stall_rows_ab.py: min 1.05x its r10 row
    at unchanged jobs).
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).transform(materialize_once)  # day x type rows: tiny, reused 3x
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day")
    )
    types = daily.select("event_type").distinct()
    return (
        days.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


EV_GAPFILL_ORACLE = """
WITH bounds AS (
    SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
    FROM events
), days AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM bounds
), types AS (
    SELECT DISTINCT event_type FROM events
), daily AS (
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       t.event_type,
       CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events,
       coalesce(daily.total_value, 0.0) AS total_value
FROM days d
CROSS JOIN types t
LEFT JOIN daily ON daily.day = d.day AND daily.event_type = t.event_type
ORDER BY 1, 2
"""


def ev_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: minute -> hour -> day from ONE fact scan.

    The hourly aggregate is computed once and re-aggregated to days
    (sum-of-sums + the peak hourly count) — the hypertable/continuous-
    aggregate pattern: each level reads the previous level's (tiny) output,
    never the fact table again.
    """
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("hour_value"),
    )
    return (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("hour_value"), 2).alias("total_value"),
            F.max("n_events").alias("peak_hour_events"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_hours",
            "n_events",
            "total_value",
            "peak_hour_events",
        )
        .orderBy("day")
    )


EV_ROLLUP_ORACLE = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour,
           count(*) AS n_events,
           round(sum(value), 2) AS hour_value
    FROM events GROUP BY 1
)
SELECT strftime(date_trunc('day', hour), '%Y-%m-%d') AS day,
       count(*) AS n_hours,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(sum(hour_value), 2) AS total_value,
       max(n_events) AS peak_hour_events
FROM hourly
GROUP BY 1
ORDER BY 1
"""


def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: the product-analytics staple.

    Cohort = the day of a user's FIRST event; each later active day counts
    into (cohort_day, day_offset) — day granularity because the events
    fixture spans one month.  Two aggregates:
    per-user min(ts) (user-cardinality output, joined back on user_id —
    no forced broadcast, rule 59), then the distinct (user, week)
    activity grid grouped into the retention matrix.  One fact shuffle
    on user_id, one tiny matrix shuffle.
    """
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("active_day")
    ).distinct()
    return (
        # first_seen is user-cardinality (grows with the corpus) — no
        # forced hint (rule 59): both sides are user-keyed, so beyond
        # the auto-broadcast threshold this is a co-partitioned shuffle
        # join, never a driver OOM
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("active_day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


EV_RETENTION_ORACLE = """
WITH first_seen AS (
    SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
    FROM events GROUP BY user_id),
activity AS (
    SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day
    FROM events)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT)
           AS day_offset,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN first_seen f USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_day, day_offset
"""


def ev_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each observation's value holds until
    the next observation (last-observation-carried-forward), weighted by
    its holding duration — the timeseries-DB ``time_weight('locf')``
    semantic the plain AVG gets wrong whenever sampling is irregular.

    One window (lead over the user's timeline) + one aggregate; both
    shuffles hash on user_id so AQE coalesces them into a single exchange
    lineage at scale.  Exactness: value is scaled to integer ten-thousandths
    and durations are integer milliseconds, so the weighted sum is exact
    INT128-free bigint arithmetic in both engines and only the final ratio
    touches floating point (see q7_nation_volume's rounding note).
    """
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    t = events.select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    held = t.withColumn("ms_next", F.lead("ms").over(w)).where(
        F.col("ms_next").isNotNull()
    )
    return (
        held.groupBy("user_id")
        .agg(
            F.sum((F.col("ms_next") - F.col("ms")) * F.col("v4")).alias("num"),
            F.sum(F.col("ms_next") - F.col("ms")).alias("den"),
        )
        .select(
            "user_id",
            F.round(F.col("num") / (F.col("den") * 10000.0), 2).alias("twa"),
        )
        .orderBy("user_id")
    )


EV_TWA_ORACLE = """
WITH held AS (
  SELECT user_id,
         CAST(round(value * 10000) AS BIGINT) AS v4,
         epoch_ms(ts) AS ms,
         lead(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS ms_next
  FROM events
)
SELECT user_id,
       round(CAST(sum((ms_next - ms) * v4) AS DOUBLE) / (CAST(sum(ms_next - ms) AS DOUBLE) * 10000.0), 2) AS twa
FROM held
WHERE ms_next IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


def ev_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlesticks: per tumbling hour, the first/max/min/last value.

    open/close are ``min_by``/``max_by`` over a unique DECIMAL event key
    (ms*2^32 + event_id — a BIGINT ms*2^20 key collides once event_id
    reaches 2^20 and picks the wrong open/close; DECIMAL(38,0) is exact
    at any realistic id space, r9) — deterministic under ts ties, and the
    whole bar is ONE hash aggregate (no window, no self-join): at 100 TB
    this is a single map-side-combinable pass, where the textbook
    ROW_NUMBER formulation would sort every partition.
    """
    events = load_table(spark, sf_dir, "events")
    key = (
        F.unix_millis(F.col("ts").cast("timestamp")).cast("decimal(38,0)")
        * F.lit(4294967296)
        + F.col("event_id")
    ).alias("k")
    t = events.select(
        F.window("ts", "1 hour").alias("w"), "event_type", "value", key
    )
    return (
        t.groupBy(F.col("w.start").alias("start"), "event_type")
        .agg(
            F.round(F.min_by("value", F.col("k")), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", F.col("k")), 2).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.date_format("start", _FMT).alias("window_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


EV_OHLC_ORACLE = f"""
SELECT strftime(date_trunc('hour', ts), '{_DUCK_FMT}') AS window_start,
       event_type,
       round(arg_min(value, epoch_ms(ts)::HUGEINT * 4294967296 + event_id), 2)
           AS open,
       round(max(value), 2) AS high,
       round(min(value), 2) AS low,
       round(arg_max(value, epoch_ms(ts)::HUGEINT * 4294967296 + event_id), 2)
           AS close,
       count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def window_udaf_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas UDAF as a WINDOW function: exponentially-weighted rolling
    mean over each user's last 5 events — weights 0.8^age are position-
    dependent inside the frame, which no built-in window aggregate
    expresses (avg/sum are position-blind).  Spark evaluates the
    GROUPED_AGG UDF once per row over its bounded frame, Arrow-batched;
    this is the remaining placement of the pandas-UDAF surface after the
    groupBy form (``emb_label_centroids``).

    The frame Series arrives in frame order (the window's ORDER BY), so
    the newest row takes weight 1.  The oracle reconstructs each frame
    relationally via a row_number self-join — dialect-proof, no reliance
    on list-lambda index semantics.
    """
    import numpy as np
    import pandas as pd  # the UDF type hints below read it at def time
    from pyspark.sql.functions import pandas_udf

    def ewma_fn(v: pd.Series) -> float:
        x = v.to_numpy(dtype=float)
        w = 0.8 ** np.arange(len(x) - 1, -1, -1)
        return float(np.round((x * w).sum() / w.sum(), 6))

    ewma = pandas_udf(ewma_fn, "double")
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        events.where(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.round(ewma(F.col("value")).over(w), 6).alias("ewma_5"),
        )
        .orderBy("user_id", "event_id")
    )


WINDOW_UDAF_EWMA_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events WHERE user_id < 50
), pair AS (
    SELECT a.user_id, a.event_id,
           b.value * power(0.8, a.rn - b.rn) AS wx,
           power(0.8, a.rn - b.rn) AS w
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 4 AND a.rn
)
SELECT user_id, event_id, round(round(sum(wx) / sum(w), 6), 6) AS ewma_5
FROM pair GROUP BY user_id, event_id
ORDER BY user_id, event_id
"""


QUERIES = {
    "window_udaf_ewma": window_udaf_ewma,
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_tcp_counts": stream_tcp_counts,
    "stream_tcp_restart": stream_tcp_restart,
    "stream_dedup_replayed": stream_dedup_replayed,
    "stream_session_flush": stream_session_flush,
    "stream_ohlc_flush": stream_ohlc_flush,
    "stream_interval_join": stream_interval_join,
    "stream_stateful_totals": stream_stateful_totals,
    "stream_manifest_tail": stream_manifest_tail,
    "stream_delta_tail": stream_delta_tail,
    "stream_delta_cdf_tail": stream_delta_cdf_tail,
    "stream_iceberg_tail": stream_iceberg_tail,
    "stream_iceberg_cdf_tail": stream_iceberg_cdf_tail,
    "ev_tumbling": ev_tumbling,
    "ev_time_weighted_avg": ev_time_weighted_avg,
    "ev_ohlc_bars": ev_ohlc_bars,
    "ev_retention_cohorts": ev_retention_cohorts,
    "ev_gapfill": ev_gapfill,
    "ev_rollup_two_level": ev_rollup_two_level,
    "ev_sliding": ev_sliding,
    "ev_sessionization": ev_sessionization,
    "ev_type_pivot": ev_type_pivot,
}

ORACLES = {
    "window_udaf_ewma": WINDOW_UDAF_EWMA_ORACLE,
    "stream_tumbling_counts": STREAM_TUMBLING_ORACLE,
    "stream_tcp_counts": STREAM_TCP_COUNTS_ORACLE,
    # the restart lane ends with the same exactly-once multiset, so the
    # same nation-derived oracle pins it (different machinery under
    # test: checkpoint replay + sink batchId dedup + reconnect)
    "stream_tcp_restart": STREAM_TCP_COUNTS_ORACLE,
    "stream_dedup_replayed": STREAM_DEDUP_REPLAYED_ORACLE,
    "stream_session_flush": STREAM_SESSION_FLUSH_ORACLE,
    "stream_ohlc_flush": STREAM_OHLC_FLUSH_ORACLE,
    "stream_interval_join": STREAM_INTERVAL_JOIN_ORACLE,
    "stream_stateful_totals": STREAM_STATEFUL_TOTALS_ORACLE,
    "stream_manifest_tail": STREAM_MANIFEST_TAIL_ORACLE,
    "stream_delta_tail": STREAM_DELTA_TAIL_ORACLE,
    "stream_delta_cdf_tail": STREAM_DELTA_CDF_ORACLE,
    "stream_iceberg_tail": STREAM_ICEBERG_TAIL_ORACLE,
    "stream_iceberg_cdf_tail": STREAM_ICEBERG_CDF_ORACLE,
    "ev_tumbling": EV_TUMBLING_ORACLE,
    "ev_time_weighted_avg": EV_TWA_ORACLE,
    "ev_ohlc_bars": EV_OHLC_ORACLE,
    "ev_retention_cohorts": EV_RETENTION_ORACLE,
    "ev_gapfill": EV_GAPFILL_ORACLE,
    "ev_rollup_two_level": EV_ROLLUP_ORACLE,
    "ev_sliding": EV_SLIDING_ORACLE,
    "ev_sessionization": EV_SESSION_ORACLE,
    "ev_type_pivot": EV_PIVOT_ORACLE,
}
