"""Structured Streaming validation: run bounded streams to completion and
compare with the batch twins (plans/events.py), which are themselves DuckDB
oracle-checked — transitively anchoring the streaming results."""

from __future__ import annotations

import shutil

import pytest

from species_range_data_pipeline_spark.streaming.events import (
    enrich_with_dimension,
    read_event_stream,
    run_stream_to_memory,
    sessionized,
    stateful_user_totals,
    stream_dedup,
    windowed_counts,
)

from .conftest import SF_SMOKE


@pytest.fixture()
def event_dir(tmp_path):
    # stream source dir with the single fixture file (bounded stream)
    d = tmp_path / "events"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0.parquet")
    return str(d)


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_match_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    assert stream.isStreaming
    q = run_stream_to_memory(windowed_counts(stream), "win_counts", "complete")
    _drain(q)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }

    from species_range_data_pipeline_spark.plans.events import ev_tumbling

    batch = ev_tumbling(spark, SF_SMOKE)
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == want


def test_sessionization_stream_matches_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    q = run_stream_to_memory(sessionized(stream), "sess", "complete")
    _drain(q)
    got = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM sess").collect()
    }

    from species_range_data_pipeline_spark.plans.events import ev_sessionization

    want = {
        (r.user_id, r.session_start): (r.n_events, r.total_value)
        for r in ev_sessionization(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stateful_user_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState accumulates per-user state across triggers:
    split the fixture into 3 files (3 microbatches with maxFilesPerTrigger=1)
    and check the final emitted row per user equals the batch groupBy."""
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "parts"
    d.mkdir()
    for i in range(3):
        src.where(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.parquet(
            str(d / f"chunk{i}")
        )
    files = sorted(str(p) for p in d.glob("chunk*/part-*.parquet"))
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, f in enumerate(files):
        shutil.copy(f, stream_dir / f"f{i}.parquet")

    stream = read_event_stream(spark, str(stream_dir), max_files_per_trigger=1)
    q = run_stream_to_memory(stateful_user_totals(stream), "totals", "update")
    _drain(q)
    # latest emission per user = the row with the max n_events
    rows = spark.sql(
        """SELECT user_id, max_by(n_events, n_events) n, max_by(total_value, n_events) t
           FROM totals GROUP BY user_id"""
    ).collect()
    got = {r.user_id: (r.n, r.t) for r in rows}
    want = {
        r.user_id: (r.n, r.t)
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == want


def test_stream_dedup_drops_replayed_file(spark, event_dir, tmp_path):
    # replay the same file twice (same event_ids) -> dedup keeps one copy
    d = tmp_path / "replay"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "b.parquet")
    stream = read_event_stream(spark, str(d))
    q = run_stream_to_memory(stream_dedup(stream).select("event_id"), "dedup")
    _drain(q)
    n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) t FROM dedup").first()
    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert n.t == n.c == base


def test_stream_stream_interval_join_matches_batch(spark, event_dir):
    from species_range_data_pipeline_spark.streaming.events import (
        view_click_interval_join,
    )

    stream = read_event_stream(spark, event_dir)
    q = run_stream_to_memory(view_click_interval_join(stream), "vc_join")
    _drain(q)
    got = {
        (r.user_id, r.view_id, r.click_id)
        for r in spark.sql("SELECT * FROM vc_join").collect()
    }

    import pyspark.sql.functions as F

    from species_range_data_pipeline_spark.catalog import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    views = ev.where("event_type = 'view'").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    clicks = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    want = {
        (r.user_id, r.view_id, r.click_id)
        for r in views.join(
            clicks,
            F.expr(
                "user_id = cu AND click_ts >= view_ts "
                "AND click_ts <= view_ts + interval 30 minutes"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_sliding_stream_matches_batch(spark, event_dir):
    from species_range_data_pipeline_spark.streaming.events import sliding_counts

    stream = read_event_stream(spark, event_dir)
    q = run_stream_to_memory(sliding_counts(stream), "slide", "complete")
    _drain(q)
    got = {
        r.window_start: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM slide").collect()
    }

    from species_range_data_pipeline_spark.plans.events import ev_sliding

    want = {
        r.window_start: (r.n_events, r.total_value)
        for r in ev_sliding(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """Replay the same events file twice (duplicate event_ids across
    triggers): the anti-join sink must land each key exactly once."""
    from species_range_data_pipeline_spark.streaming.events import (
        write_stream_idempotent,
    )

    d = tmp_path / "src"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "b.parquet")
    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    sink = str(tmp_path / "sink")
    q = write_stream_idempotent(
        stream.select("event_id", "user_id", "value"),
        sink,
        ["event_id"],
        str(tmp_path / "ckpt"),
    )
    _drain(q)
    out = spark.read.parquet(sink)
    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert out.count() == base
    assert out.select("event_id").distinct().count() == base


def test_foreach_batch_idempotent_sink_dedups_within_one_trigger(
    spark, tmp_path
):
    """r9 review: a record and its at-least-once replay can arrive in the
    SAME microbatch (maxFilesPerTrigger covering both files), where the
    sink anti-join alone sees neither key — the in-batch dropDuplicates
    must still land each key exactly once.  Also exercises the explicit
    ``schema=`` start on an EMPTY landing directory."""
    from species_range_data_pipeline_spark.streaming.events import (
        write_stream_idempotent,
    )

    d = tmp_path / "src"
    d.mkdir()
    schema = spark.read.parquet(f"{SF_SMOKE}/events.parquet").schema
    # stream starts on the empty dir via the explicit schema...
    stream = read_event_stream(
        spark, str(d), max_files_per_trigger=2, schema=schema
    )
    # ...then both copies land and arrive inside one trigger
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "b.parquet")
    sink = str(tmp_path / "sink")
    q = write_stream_idempotent(
        stream.select("event_id", "user_id", "value"),
        sink,
        ["event_id"],
        str(tmp_path / "ckpt"),
    )
    _drain(q)
    out = spark.read.parquet(sink)
    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert out.count() == base
    assert out.select("event_id").distinct().count() == base


def test_stream_static_enrichment_matches_batch(spark, event_dir):
    from pyspark.sql import functions as F

    dim = spark.range(0, 50).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("seg"), (F.col("id") % 3).cast("string")).alias("segment"),
    )
    stream = read_event_stream(spark, event_dir)
    q = run_stream_to_memory(
        enrich_with_dimension(stream, dim), "enriched", "append"
    )
    _drain(q)
    got = sorted(
        (r.event_id, r.segment)
        for r in spark.sql("SELECT event_id, segment FROM enriched").collect()
    )
    batch = (
        spark.read.parquet(f"{event_dir}/part-0.parquet")
        .join(dim, "user_id", "left")
        .select("event_id", F.coalesce("segment", F.lit("unknown")).alias("segment"))
    )
    want = sorted((r.event_id, r.segment) for r in batch.collect())
    assert got and got == want


def test_stream_dedup_within_watermark_bounded_state(spark, tmp_path):
    from species_range_data_pipeline_spark.streaming.events import (
        stream_dedup_within_watermark,
    )

    d = tmp_path / "replay_wm"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "b.parquet")
    stream = read_event_stream(spark, str(d))
    q = run_stream_to_memory(
        stream_dedup_within_watermark(stream).select("event_id"), "dedup_wm"
    )
    _drain(q)
    base = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    out = spark.sql("SELECT * FROM dedup_wm")
    assert out.count() == base
    assert out.distinct().count() == base


def test_transform_with_state_totals_match_batch(spark, tmp_path):
    """Spark-4 transformWithStateInPandas (RocksDB state store) accumulates
    across microbatches exactly like the applyInPandasWithState twin."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState protocol needs the protobuf wheel",
    )
    import pyspark.sql.functions as F

    from species_range_data_pipeline_spark.streaming.events import (
        stateful_user_totals_tws,
    )

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "parts"
    d.mkdir()
    for i in range(2):
        src.where(F.pmod("event_id", F.lit(2)) == i).coalesce(1).write.parquet(
            str(d / f"chunk{i}")
        )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, f in enumerate(sorted(d.glob("chunk*/part-*.parquet"))):
        shutil.copy(f, stream_dir / f"f{i}.parquet")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, str(stream_dir), max_files_per_trigger=1)
        q = run_stream_to_memory(
            stateful_user_totals_tws(stream), "totals_tws", "update"
        )
        _drain(q)
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = spark.sql(
        """SELECT user_id, max_by(n_events, n_events) n, max_by(total_value, n_events) t
           FROM totals_tws GROUP BY user_id"""
    ).collect()
    got = {r.user_id: (r.n, r.t) for r in rows}
    want = {
        r.user_id: (r.n, r.t)
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert got == want


def test_stream_mv_refresh_matches_batch_and_replay_idempotent(spark, tmp_path):
    """Streaming MV partials across 2 microbatches merge to the full batch
    aggregate; replaying a batch (crash between write and commit) leaves
    the MV unchanged."""
    import pyspark.sql.functions as F

    from species_range_data_pipeline_spark.streaming.events import (
        mv_partial_refresh_batch,
        read_stream_mv,
        stream_mv_refresh,
    )

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    d = tmp_path / "parts"
    d.mkdir()
    for i in range(2):
        src.where(F.pmod("event_id", F.lit(2)) == i).coalesce(1).write.parquet(
            str(d / f"chunk{i}")
        )
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    for i, f in enumerate(sorted(d.glob("chunk*/part-*.parquet"))):
        shutil.copy(f, stream_dir / f"f{i}.parquet")

    state = str(tmp_path / "mv_state")
    stream = read_event_stream(spark, str(stream_dir), max_files_per_trigger=1)
    q = stream_mv_refresh(stream, state, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    def mv_rows():
        return [
            (r.event_type, r.n_events, r.total_value, r.max_value)
            for r in read_stream_mv(spark, state).collect()
        ]

    want = [
        (r.event_type, r.n_events, r.total_value, r.max_value)
        for r in src.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0, 2
            ).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type")
        .collect()
    ]
    got = mv_rows()
    assert got == want

    # replay batch 0 (same data, same batch_id) -> MV unchanged.  The
    # file->batch assignment is the source's choice, so read it from the
    # checkpoint's FileStreamSource log rather than assuming.
    import json

    log0 = (tmp_path / "ckpt" / "sources" / "0" / "0").read_text().splitlines()
    batch0_files = [
        json.loads(line)["path"] for line in log0 if line.startswith("{")
    ]
    from species_range_data_pipeline_spark.catalog import normalize_event_ts

    batch0 = normalize_event_ts(spark.read.parquet(*batch0_files))
    mv_partial_refresh_batch(batch0, 0, state)
    assert mv_rows() == got


def test_ohlc_stream_matches_batch(spark, event_dir):
    from species_range_data_pipeline_spark.streaming.events import (
        ohlc_bars_stream,
    )

    stream = read_event_stream(spark, event_dir)
    q = run_stream_to_memory(ohlc_bars_stream(stream), "ohlc", "complete")
    _drain(q)
    got = {
        (r.window_start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.sql("SELECT * FROM ohlc").collect()
    }

    from species_range_data_pipeline_spark.plans.events import ev_ohlc_bars

    want = {
        (r.window_start, r.event_type): (r.open, r.high, r.low, r.close, r.n)
        for r in ev_ohlc_bars(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_available_now_restart_processes_only_new_files(spark, tmp_path):
    """Trigger.AvailableNow + a persistent checkpoint: the restarted query
    resumes from the source offset log and lands ONLY the file added while
    it was down (incremental batch over a stream source — the scheduled-job
    shape at scale)."""
    import pyspark.sql.functions as F

    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    half0 = src.where(F.pmod("event_id", F.lit(2)) == 0)
    half1 = src.where(F.pmod("event_id", F.lit(2)) == 1)
    d = tmp_path / "src"
    d.mkdir()
    half0.coalesce(1).write.parquet(str(tmp_path / "s0"))
    half1.coalesce(1).write.parquet(str(tmp_path / "s1"))
    shutil.copy(
        next((tmp_path / "s0").glob("part-*.parquet")), d / "f0.parquet"
    )

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = read_event_stream(spark, str(d))
        q = (
            stream.select("event_id")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n0 = spark.read.parquet(sink).count()
    assert n0 == half0.count()

    shutil.copy(
        next((tmp_path / "s1").glob("part-*.parquet")), d / "f1.parquet"
    )
    run_once()
    out = spark.read.parquet(sink)
    assert out.count() == src.count()  # no reprocessing of f0
    assert out.distinct().count() == src.count()


def test_watermark_drops_too_late_events(spark, tmp_path):
    """Late-data semantics: after batch 1 advances the watermark to
    (max_ts - 1h), a batch-2 event older than the watermark is DROPPED
    from its (closed) window, while a late-but-within-watermark event is
    still counted.  Uses append mode so only finalized windows emit."""
    import pyspark.sql.functions as F

    def mk(path, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_s long, user_id long, event_type string, value double, props string"
        ).select(
            "event_id",
            (F.col("ts_s") * 1000000000).alias("ts"),  # nanos-as-long schema
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.parquet(path)

    T0 = 1_700_000_000  # epoch seconds, on the hour? make it exact hour:
    T0 = T0 - (T0 % 3600)
    stage = tmp_path / "stage"
    # batch 1: events 10:00-13:00 -> watermark after batch = 13:00 - 1h
    mk(str(stage / "b1"), [
        (1, T0 + 600, 1, "click", 1.0, "{}"),        # window T0
        (2, T0 + 3 * 3600, 1, "click", 1.0, "{}"),   # window T0+3h (max ts)
    ])
    # batch 2: one event in window T0 (beyond watermark -> dropped), one in
    # window T0+2h (within watermark... T0+2h30 > 13:00-1h=12:00 -> kept)
    mk(str(stage / "b2"), [
        (3, T0 + 1800, 1, "click", 1.0, "{}"),            # too late, dropped
        (4, T0 + 2 * 3600 + 1800, 1, "click", 1.0, "{}"), # late but allowed
        (5, T0 + 4 * 3600, 1, "click", 1.0, "{}"),        # advances watermark
    ])
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(next((stage / "b1").glob("part-*.parquet")), src / "f0.parquet")

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_demo")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # deliver batch 2 into the SAME query (watermark state persists)
    shutil.copy(next((stage / "b2").glob("part-*.parquet")), src / "f1.parquet")
    q.processAllAvailable()
    q.stop()

    got = {r.ws: r.n for r in spark.sql("SELECT * FROM late_demo").collect()}
    from datetime import datetime, timezone

    def ws(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    assert got.get(ws(T0)) == 1, got          # late event 3 NOT counted
    assert got.get(ws(T0 + 2 * 3600)) == 1, got  # event 4 counted


def test_streaming_sink_to_streaming_source_chain(spark, event_dir, tmp_path):
    """Table-to-table streaming composes: a streaming query commits each
    microbatch to the manifest table (txn exactly-once sink) and a second
    streaming query TAILS that table via the manifest_stream source —
    the silver->gold hop of a medallion pipeline.  Gold ends up with
    exactly the silver rows, and a late-arriving silver commit flows
    through incrementally on the next gold run."""
    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.sources.manifest_stream import (
        register_manifest_stream_source,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        read_manifest_table,
        table_versions,
    )
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_stream_manifest,
    )

    register_manifest_stream_source(spark)
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")

    # silver: stateless transform of the event stream, one commit per
    # microbatch (the fixture dir holds ONE file; split it so
    # max_files_per_trigger=1 yields several commits)
    split_dir = str(tmp_path / "events_split")
    half = spark.read.parquet(event_dir)
    half.where("event_id % 2 = 0").coalesce(1).write.parquet(split_dir)
    half.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(split_dir)
    enriched = read_event_stream(spark, split_dir).select(
        "event_id", "event_type", (F.col("value") * 2).alias("v2")
    )
    q1 = write_stream_manifest(enriched, silver, str(tmp_path / "ck1"))
    q1.processAllAvailable()
    q1.stop()
    assert len(table_versions(silver)) >= 2  # several microbatch commits

    def run_gold():
        q = (
            spark.readStream.format("manifest_stream")
            .option("path", silver)
            .load()
            .writeStream.format("parquet")
            .option("path", gold)
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_gold()
    want = {r.event_id for r in read_manifest_table(spark, silver).collect()}
    got = [r.event_id for r in spark.read.parquet(gold).collect()]
    assert len(got) == len(want) and set(got) == want  # exactly once

    # a late silver commit flows through on the next gold run, alone
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_manifest_table,
    )

    write_manifest_table(
        spark.createDataFrame(
            [(999_999_991, "late", 1.0)], "event_id long, event_type string, v2 double"
        ),
        silver,
    )
    run_gold()
    got2 = [r.event_id for r in spark.read.parquet(gold).collect()]
    assert len(got2) == len(got) + 1 and 999_999_991 in set(got2)


def test_stream_observed_metrics_per_batch(spark, event_dir, tmp_path):
    """Observed metrics ride each microbatch (no extra scan): per-batch
    counts accumulate to the exact batch-query totals, and a violation
    counter works mid-stream."""
    import time

    from pyspark.sql import functions as F

    from species_range_data_pipeline_spark.operators.observe import (
        StreamMetricsCollector,
    )

    coll = StreamMetricsCollector(spark, "ingest_metrics")
    try:
        stream = coll.attach(
            read_event_stream(spark, event_dir),
            {
                "n_rows": F.count(F.lit(1)),
                "total_value": F.round(F.sum("value"), 2),
                "n_negative": F.count_if(F.col("value") < 0),
            },
        )
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # listener delivery is async: wait briefly for the progress events
        for _ in range(40):
            if coll.batches:
                break
            time.sleep(0.25)
        batch = spark.read.parquet(event_dir)
        want_n = batch.count()
        got = coll.totals()
        assert got["n_rows"] == want_n
        assert got["n_negative"] == batch.where("value < 0").count()
        assert abs(
            got["total_value"]
            - round(batch.agg(F.sum("value")).first()[0], 2)
        ) < 0.1
        assert len(coll.batches) >= 1
    finally:
        coll.close()


def test_stream_tumbling_counts_matches_batch_twin(spark):
    """The driver-oracled streaming lane (availableNow drain to a memory
    sink, r9) must equal the batch twin row-for-row — same contract the
    DuckDB oracle checks, pinned here at smoke scale so a streaming-side
    regression fails fast without the parity sweep."""
    from species_range_data_pipeline_spark.plans.events import (
        ev_tumbling,
        stream_tumbling_counts,
    )

    got = [
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in stream_tumbling_counts(spark, SF_SMOKE).collect()
    ]
    want = [
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in ev_tumbling(spark, SF_SMOKE).collect()
    ]
    assert got and got == want


def test_staged_stream_replay_actually_delivers_duplicates(spark):
    """Guard for stream_dedup_replayed (r10): the at-least-once replay
    microbatch must really re-deliver every 10th event — run the staged
    replay WITHOUT dedup and count the surplus.  If staging ever dropped
    the replay file, the dedup lane would still match its oracle while
    suppressing nothing."""
    from species_range_data_pipeline_spark.plans.events import (
        _staged_event_stream_run,
    )

    out = _staged_event_stream_run(
        spark, SF_SMOKE, lambda s: s, sink_prefix="replay_guard",
        replay_every=10,
    )
    total = out.count()
    distinct = out.select("event_id").distinct().count()
    assert distinct == 1000
    assert total == 1000 + 100  # fixture + one replayed copy of each 10th


def test_stream_dedup_replayed_suppresses_every_replay(spark):
    """The driver lane end-to-end at smoke scale: bounded-state dedup
    returns exactly the original events — each replayed record is either
    still keyed in state or below the watermark (late), never re-emitted."""
    from species_range_data_pipeline_spark.plans.events import (
        stream_dedup_replayed,
    )

    out = stream_dedup_replayed(spark, SF_SMOKE)
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == 1000 and len(set(ids)) == 1000


def test_stream_state_partitions_env_and_default(spark, monkeypatch):
    """r19 (VERDICT r18 #2): streaming state-store partition count is an
    env-driven production decision, never the local core count.  Default
    = min(shuffle partitions, 8); $SPARK_GRAFT_STREAM_PARTITIONS
    overrides; the drain scope restores the session conf afterwards."""
    from species_range_data_pipeline_spark.streaming.state import (
        stream_state_conf,
        stream_state_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    assert stream_state_partitions(spark) == min(int(before), 8)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "200")
    assert stream_state_partitions(spark) == 200
    with stream_state_conf(spark):
        assert spark.conf.get(key) == "200"
    assert spark.conf.get(key) == before


def test_stream_tumbling_counts_state_partition_count_took_effect(
    spark, monkeypatch
):
    """The drained query's state really is partitioned by the
    stream-state value: with the env forcing 3 partitions, the lane's
    stateful aggregate reports 3 shuffle partitions in its progress, and
    its results stay byte-identical to an unforced run (state
    partitioning is layout, never semantics)."""
    from species_range_data_pipeline_spark.plans import events

    drain, drained = events.drain_available_now, []

    def _recording_drain(*args, **kwargs):
        drained.append(drain(*args, **kwargs))
        return drained[-1]

    monkeypatch.setattr(events, "drain_available_now", _recording_drain)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    a = sorted(map(tuple, events.stream_tumbling_counts(spark, SF_SMOKE).collect()))
    (q,) = drained
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 3
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS")
    b = sorted(map(tuple, events.stream_tumbling_counts(spark, SF_SMOKE).collect()))
    assert a == b and a
