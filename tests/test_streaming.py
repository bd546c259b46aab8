"""Structured Streaming: file-source micro-batches through the shared parse
chain (T1-T8), memory + parquet sinks, late-row integration, watermarked
stateful profile."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import pytest

from pyspark.sql import functions as F

from bigdata_weather_system_spark.operators.latest import latest_per_key
from bigdata_weather_system_spark.streaming import (
    read_event_stream,
    start_memory_sink,
    start_parquet_sink,
    streaming_hourly_profile,
)


def write_batch(dirpath, name, payloads, kafka_ts):
    """One JSON-lines file = one micro-batch of raw kafka-shaped rows."""
    with open(os.path.join(dirpath, name), "w") as f:
        for p in payloads:
            rec = {
                "key": p["location_name"],
                "value": json.dumps(p),
                "timestamp": kafka_ts.isoformat(),
            }
            f.write(json.dumps(rec) + "\n")


def payload(loc, ts, temp):
    return {
        "location_name": loc,
        "time": ts.isoformat(timespec="minutes"),
        "temperature": str(temp),
        "weathercode": "1",
        "interval": "900",
        "is_day": "1",
    }


def wait_for(fn, timeout=30, interval=0.5):
    end = time.time() + timeout
    last = None
    while time.time() < end:
        last = fn()
        if last:
            return last
        time.sleep(interval)
    return last


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    return str(d)


def test_memory_sink_accumulates_and_integrates_late_rows(spark, stream_dir):
    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(stream_dir, "b1.json", [payload("A", t0, 20.0)], t0)

    raw = read_event_stream(spark, "files", stream_dir, max_files_per_trigger=1)
    q = start_memory_sink(raw, table_name="weather_events_test")
    try:
        rows = wait_for(lambda: spark.table("weather_events_test").collect())
        assert rows and rows[0].location == "A"
        assert rows[0].temperature == 20.0

        # batch 2: a NEWER event and a LATE (older) event for A
        write_batch(
            stream_dir,
            "b2.json",
            [payload("A", t0 + dt.timedelta(minutes=10), 22.0),
             payload("A", t0 - dt.timedelta(hours=1), 18.0)],
            t0 + dt.timedelta(minutes=10),
        )
        rows = wait_for(
            lambda: (
                r := spark.table("weather_events_test").collect(),
                r if len(r) == 3 else None,
            )[1]
        )
        assert rows is not None, "stream did not append batch 2"
        # T5: late rows integrate retroactively — latest-per-key re-derived
        # at query time still picks the newest event time
        latest = latest_per_key(spark.table("weather_events_test")).collect()
        assert len(latest) == 1 and latest[0].temperature == 22.0
    finally:
        q.stop()


def test_parquet_sink_with_checkpoint(spark, stream_dir, tmp_path):
    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(stream_dir, "b1.json", [payload("B", t0, 21.0)], t0)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    raw = read_event_stream(spark, "files", stream_dir)
    q = start_parquet_sink(raw, out, ckpt)
    try:
        q.processAllAvailable()
        df = spark.read.parquet(out)
        rows = df.collect()
        assert len(rows) == 1 and rows[0].location == "B"
        assert "payload" not in df.columns  # dropped for the durable sink
    finally:
        q.stop()


def test_parquet_sink_commits_one_file_per_micro_batch(spark, stream_dir, tmp_path):
    """Every serve read opens every sink file, so a micro-batch that picks
    up k input files must still commit ONE parquet file (the file source
    would otherwise hand each small input file its own write task)."""
    t0 = dt.datetime(2025, 11, 14, 10, 0)
    expected = set()
    for i in range(6):
        rows = [payload(f"L{j}", t0 + dt.timedelta(minutes=5 * i), 10.0 + i + j)
                for j in range(4)]
        write_batch(stream_dir, f"b{i}.json", rows, t0)
        expected |= {(f"L{j}", t0 + dt.timedelta(minutes=5 * i), 10.0 + i + j)
                     for j in range(4)}
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_parquet_sink(read_event_stream(spark, "files", stream_dir), out, ckpt)
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 1, "all six input files must land in one micro-batch"
    parts = [f for f in os.listdir(out)
             if f.startswith("part-") and f.endswith(".parquet")]
    assert len(parts) == 1, parts
    got = [(r.location, r.event_timestamp, r.temperature)
           for r in spark.read.parquet(out).collect()]
    assert len(got) == len(expected) and set(got) == expected


def test_streaming_hourly_profile_is_stateful_with_watermark(spark, stream_dir, tmp_path):
    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(
        stream_dir,
        "b1.json",
        [payload("C", t0, 20.0), payload("C", t0 + dt.timedelta(minutes=30), 30.0)],
        t0,
    )
    raw = read_event_stream(spark, "files", stream_dir)
    agg = streaming_hourly_profile(raw, watermark="2 hours")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("hourly_profile_test")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("hourly_profile_test").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.n_events == 2 and r.avg_temperature == 25.0
        assert r.hour_window.start == t0
    finally:
        q.stop()


def test_streaming_dedup_drops_cross_batch_duplicates(spark, stream_dir, tmp_path):
    from bigdata_weather_system_spark.streaming import streaming_dedup

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    write_batch(
        stream_dir,
        "d1.json",
        [payload("hanoi", t0, 20.0), payload("hanoi", t0, 20.0)],  # same-batch dup
        t0,
    )
    raw = read_event_stream(spark, path=stream_dir, max_files_per_trigger=1)
    deduped = streaming_dedup(raw, watermark="2 hours")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
        # duplicate of the same (location, event_timestamp) in a LATER batch
        write_batch(stream_dir, "d2.json", [payload("hanoi", t0, 20.0)], t0)
        # plus a genuinely new event that must survive
        t1 = t0 + dt.timedelta(minutes=5)
        write_batch(stream_dir, "d3.json", [payload("hanoi", t1, 21.0)], t1)
        q.processAllAvailable()
        rows = spark.table("dedup_stream").collect()
        keys = [(r.location, r.event_timestamp) for r in rows]
        assert len(keys) == len(set(keys)) == 2  # one per distinct event time
    finally:
        q.stop()


def test_stream_stream_interval_join(spark, tmp_path):
    from bigdata_weather_system_spark.sources.raw_events import parse_raw_events
    from bigdata_weather_system_spark.streaming import stream_stream_interval_join

    left_dir = tmp_path / "left_in"
    right_dir = tmp_path / "right_in"
    left_dir.mkdir()
    right_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    # left: one observation at 10:00; right: one in-window (09:30) and one
    # out-of-window (08:00, beyond the 1 h lookback)
    write_batch(str(left_dir), "l1.json", [payload("hanoi", t0, 20.0)], t0)
    write_batch(
        str(right_dir),
        "r1.json",
        [
            payload("hanoi", t0 - dt.timedelta(minutes=30), 18.0),
            payload("hanoi", t0 - dt.timedelta(hours=2), 15.0),
            payload("hue", t0 - dt.timedelta(minutes=10), 30.0),  # other key
        ],
        t0,
    )
    left = parse_raw_events(
        read_event_stream(spark, path=str(left_dir)), keep_payload=False
    ).select("location", "event_timestamp", "temperature")
    right = parse_raw_events(
        read_event_stream(spark, path=str(right_dir)), keep_payload=False
    ).select("location", "event_timestamp", "temperature")
    joined = stream_stream_interval_join(
        left,
        right,
        key="location",
        left_ts="event_timestamp",
        right_ts="event_timestamp",
        lookback="1 hour",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("ss_join").collect()
        # exactly the (10:00 hanoi) × (09:30 hanoi) pair survives
        assert len(rows) == 1
        r = rows[0]
        assert r.location == "hanoi" and r.r_location == "hanoi"
        assert r.temperature == 20.0 and r.r_temperature == 18.0
    finally:
        q.stop()


def test_stream_stream_left_outer_join_emits_null_extended_rows(spark, tmp_path):
    from bigdata_weather_system_spark.sources.raw_events import parse_raw_events
    from bigdata_weather_system_spark.streaming import stream_stream_interval_join

    left_dir = tmp_path / "lo_left"
    right_dir = tmp_path / "lo_right"
    left_dir.mkdir()
    right_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    # hanoi matches a right row in the lookback window; danang has no right
    # counterpart and must surface null-extended once the watermark passes
    write_batch(
        str(left_dir),
        "l1.json",
        [payload("hanoi", t0, 20.0), payload("danang", t0, 25.0)],
        t0,
    )
    write_batch(
        str(right_dir),
        "r1.json",
        [payload("hanoi", t0 - dt.timedelta(minutes=30), 18.0)],
        t0,
    )
    left = parse_raw_events(
        read_event_stream(spark, path=str(left_dir), max_files_per_trigger=1),
        keep_payload=False,
    ).select("location", "event_timestamp", "temperature")
    right = parse_raw_events(
        read_event_stream(spark, path=str(right_dir), max_files_per_trigger=1),
        keep_payload=False,
    ).select("location", "event_timestamp", "temperature")
    joined = stream_stream_interval_join(
        left,
        right,
        key="location",
        left_ts="event_timestamp",
        right_ts="event_timestamp",
        lookback="1 hour",
        watermark="2 hours",
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_lo_join")
        .option("checkpointLocation", str(tmp_path / "ckpt_lo"))
        .start()
    )
    try:
        q.processAllAvailable()
        by_loc = {r.location: r for r in spark.table("ss_lo_join").collect()}
        # inner result arrives immediately; the outer row cannot yet (a
        # matching right row could still arrive inside the watermark)
        assert by_loc["hanoi"].r_temperature == 18.0
        assert "danang" not in by_loc
        # push both watermarks far past danang's join window, then give the
        # engine follow-up batches to evict state and emit the outer row
        far = t0 + dt.timedelta(hours=12)
        for i, t in enumerate((far, far + dt.timedelta(hours=1))):
            write_batch(str(left_dir), f"l{i+2}.json", [payload("hanoi", t, 21.0)], t)
            write_batch(str(right_dir), f"r{i+2}.json", [payload("hue", t, 19.0)], t)
            q.processAllAvailable()

        def outer_row():
            rows = spark.table("ss_lo_join").collect()
            return [r for r in rows if r.location == "danang"]

        rows = wait_for(lambda: (q.processAllAvailable(), outer_row())[1])
        assert rows, "outer row never emitted after watermark passed"
        assert rows[0].r_temperature is None and rows[0].r_location is None
    finally:
        q.stop()


def test_incremental_snapshot_upsert_and_compaction(spark, tmp_path):
    from bigdata_weather_system_spark.streaming import (
        read_event_stream,
    )
    from bigdata_weather_system_spark.streaming.pipeline import (
        compact_snapshot,
        read_latest_snapshot,
        start_incremental_snapshot_sink,
    )

    in_dir = tmp_path / "upsert_in"
    in_dir.mkdir()
    log = str(tmp_path / "upsert_log")
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    write_batch(
        str(in_dir),
        "b1.json",
        [payload("hanoi", t0, 20.0), payload("hue", t0, 28.0)],
        t0,
    )
    q = start_incremental_snapshot_sink(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        log_path=log,
        checkpoint_path=str(tmp_path / "upsert_ckpt"),
    )
    try:
        q.processAllAvailable()
        # batch 2: hanoi advances, danang appears, plus a LATE hanoi row
        # that must lose to the existing newer one
        write_batch(
            str(in_dir),
            "b2.json",
            [
                payload("hanoi", t0 + dt.timedelta(minutes=10), 21.5),
                payload("hanoi", t0 - dt.timedelta(hours=1), 15.0),
                payload("danang", t0, 26.0),
            ],
            t0 + dt.timedelta(minutes=10),
        )
        q.processAllAvailable()
    finally:
        q.stop()

    snap = {
        r.location: r.temperature
        for r in read_latest_snapshot(spark, log).collect()
    }
    assert snap == {"hanoi": 21.5, "hue": 28.0, "danang": 26.0}
    # the log keeps history (append-only): 2 hanoi rows survive per-batch dedup
    log_rows = spark.read.parquet(log)
    assert log_rows.filter(F.col("location") == "hanoi").count() == 2

    compacted = str(tmp_path / "upsert_compacted")
    compact_snapshot(spark, log, compacted)
    comp = {
        r.location: r.temperature
        for r in read_latest_snapshot(spark, compacted).collect()
    }
    assert comp == snap
    assert spark.read.parquet(compacted).count() == 3

    # TIME TRAVEL: the view as of batch 0 predates batch 2's upsert —
    # hanoi still reads 20.0 and danang does not exist yet; the late
    # hanoi row in batch 1 must not leak backwards either
    from bigdata_weather_system_spark.streaming.pipeline import (
        read_snapshot_as_of,
    )

    min_batch = (
        spark.read.parquet(log).agg(F.min("_batch_id")).head()[0]
    )
    asof = {
        r.location: r.temperature
        for r in read_snapshot_as_of(
            spark, log, as_of_batch=min_batch
        ).collect()
    }
    assert asof == {"hanoi": 20.0, "hue": 28.0}
    # ingest-time travel: everything at/before t0 (kafka ts of batch 1)
    asof_t = {
        r.location: r.temperature
        for r in read_snapshot_as_of(spark, log, as_of_time=t0).collect()
    }
    assert asof_t == {"hanoi": 20.0, "hue": 28.0}


def test_available_now_trigger_processes_backlog_and_stops(spark, tmp_path):
    from bigdata_weather_system_spark.sources.raw_events import parse_raw_events

    in_dir = tmp_path / "avnow_in"
    in_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    for i in range(3):
        write_batch(
            str(in_dir), f"f{i}.json", [payload(f"loc{i}", t0, 20.0 + i)], t0
        )
    parsed = parse_raw_events(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        keep_payload=False,
    )
    # availableNow: drain the whole backlog in rate-limited batches, then
    # STOP — the batch-catchup trigger for periodic jobs over a stream
    # source (no always-on cluster).
    q = (
        parsed.writeStream.outputMode("append")
        .format("memory")
        .queryName("avnow_out")
        .option("checkpointLocation", str(tmp_path / "avnow_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert not q.isActive  # self-terminated after draining
    assert spark.table("avnow_out").count() == 3


def test_stream_static_dimension_join(spark, tmp_path):
    from bigdata_weather_system_spark.sources.raw_events import parse_raw_events

    in_dir = tmp_path / "ss_dim_in"
    in_dir.mkdir()
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    write_batch(
        str(in_dir),
        "b1.json",
        [payload("hanoi", t0, 20.0), payload("nowhere", t0, 9.0)],
        t0,
    )
    dim = spark.createDataFrame(
        [("hanoi", "north", 21.03), ("hue", "central", 16.46)],
        ["location", "region", "lat"],
    )
    stream = parse_raw_events(
        read_event_stream(spark, path=str(in_dir)), keep_payload=False
    ).select("location", "event_timestamp", "temperature")
    # stream-static join: the dimension is re-resolved per micro-batch,
    # no watermark or state needed — the standard enrichment shape
    enriched = stream.join(dim, on="location", how="left")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_dim_out")
        .option("checkpointLocation", str(tmp_path / "ss_dim_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.location: (r.region, r.temperature) for r in spark.table("ss_dim_out").collect()}
        assert got == {"hanoi": ("north", 20.0), "nowhere": (None, 9.0)}
    finally:
        q.stop()


def test_incremental_snapshot_sink_resumes_from_checkpoint(spark, tmp_path):
    from bigdata_weather_system_spark.streaming.pipeline import (
        read_latest_snapshot,
        start_incremental_snapshot_sink,
    )

    in_dir = tmp_path / "resume_in"
    in_dir.mkdir()
    log = str(tmp_path / "resume_log")
    ckpt = str(tmp_path / "resume_ckpt")
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    write_batch(str(in_dir), "b1.json", [payload("hanoi", t0, 20.0)], t0)
    q1 = start_incremental_snapshot_sink(
        read_event_stream(spark, path=str(in_dir)), log, ckpt
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # new data lands while the query is DOWN; restart must resume from the
    # checkpoint and process only the unseen file (no duplicate batch 0)
    write_batch(
        str(in_dir),
        "b2.json",
        [payload("hanoi", t0 + dt.timedelta(minutes=5), 22.0)],
        t0 + dt.timedelta(minutes=5),
    )
    q2 = start_incremental_snapshot_sink(
        read_event_stream(spark, path=str(in_dir)), log, ckpt
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    log_df = spark.read.parquet(log)
    assert log_df.count() == 2  # one row per file, no reprocessing
    assert log_df.select("_batch_id").distinct().count() == 2
    snap = read_latest_snapshot(spark, log).collect()
    assert len(snap) == 1 and snap[0].temperature == 22.0


def test_streaming_session_profile_merges_and_splits_sessions(spark, stream_dir):
    """Streaming session windows: in-gap events merge into the open
    session across micro-batches, a past-gap event starts a new one, and
    sessions emit exactly once (append) when the watermark closes them."""
    from bigdata_weather_system_spark.streaming import streaming_session_profile

    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(
        stream_dir,
        "s1.json",
        [payload("C", t0, 20.0), payload("C", t0 + dt.timedelta(minutes=30), 30.0)],
        t0,
    )
    raw = read_event_stream(spark, "files", stream_dir)
    agg = streaming_session_profile(raw, gap="1 hour", watermark="1 seconds")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("session_profile_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # open sessions emit nothing in append mode
        assert spark.table("session_profile_test").count() == 0

        # in-gap event merges; a far-later event opens a second session
        write_batch(
            stream_dir,
            "s2.json",
            [
                payload("C", t0 + dt.timedelta(minutes=60), 40.0),
                payload("C", t0 + dt.timedelta(hours=3), 50.0),
            ],
            t0 + dt.timedelta(hours=3),
        )
        q.processAllAvailable()
        # watermark-advancing batch closes both C sessions
        write_batch(
            stream_dir,
            "s3.json",
            [payload("D", t0 + dt.timedelta(days=2), 10.0)],
            t0 + dt.timedelta(days=2),
        )
        q.processAllAvailable()
        rows = [
            r for r in spark.table("session_profile_test").collect()
            if r.location == "C"
        ]
        sessions = sorted(rows, key=lambda r: r.session.start)
        assert [s.n_events for s in sessions] == [3, 1]
        assert sessions[0].avg_temperature == 30.0
        assert sessions[0].session.start == t0
        assert sessions[1].session.start == t0 + dt.timedelta(hours=3)
    finally:
        q.stop()


def test_quality_gated_sink_routes_batches(spark, stream_dir, tmp_path):
    """Per-micro-batch constraint gate: a clean batch lands in good/, a
    batch violating the temperature range lands in quarantine/ intact,
    and every batch appends a stamped constraint report."""
    from bigdata_weather_system_spark.operators.quality import (
        Constraint,
        completeness,
        in_range_fraction,
    )
    from bigdata_weather_system_spark.sources.raw_events import (
        parse_raw_events,
    )
    from bigdata_weather_system_spark.streaming import read_event_stream
    from bigdata_weather_system_spark.streaming.pipeline import (
        start_quality_gated_sink,
    )

    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(stream_dir, "b1.json", [payload("G", t0, 21.0)], t0)

    checks = [
        Constraint("temp_complete", completeness("temperature"), 1.0),
        Constraint(
            "temp_range", in_range_fraction("temperature", -60, 60), 1.0
        ),
    ]
    good = str(tmp_path / "good")
    quar = str(tmp_path / "quarantine")
    rep = str(tmp_path / "report")
    raw = read_event_stream(spark, "files", stream_dir)
    q = start_quality_gated_sink(
        parse_raw_events(raw, keep_payload=False),
        checks,
        good,
        quar,
        rep,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(good).count() == 1
        assert not os.path.exists(quar)  # nothing quarantined yet

        # batch 2: an out-of-range reading → whole batch quarantined
        write_batch(
            stream_dir,
            "b2.json",
            [payload("G", t0 + dt.timedelta(hours=1), 250.0)],
            t0,
        )
        q.processAllAvailable()
        assert spark.read.parquet(good).count() == 1  # unchanged
        quarantined = spark.read.parquet(quar).collect()
        assert len(quarantined) == 1
        assert quarantined[0].temperature == 250.0

        report = spark.read.parquet(rep)
        assert report.count() == 4  # 2 batches × 2 constraints
        failed = {
            (r._batch_id, r.constraint)
            for r in report.filter(~F.col("passed")).collect()
        }
        assert failed == {(1, "temp_range")}
    finally:
        q.stop()


def test_streaming_ohlc_bars_merge_across_batches(spark, stream_dir, tmp_path):
    """OHLC state must merge across micro-batches: open stays the earliest
    reading even when a later batch carries earlier-arriving higher/lower
    values within the same event-time bar."""
    from bigdata_weather_system_spark.streaming.pipeline import (
        streaming_ohlc_bars,
    )

    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(
        stream_dir,
        "b1.json",
        [payload("O", t0 + dt.timedelta(minutes=10), 20.0)],
        t0,
    )
    q = (
        streaming_ohlc_bars(read_event_stream(spark, "files", stream_dir))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ohlc_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: earlier event-time (becomes open) and a late high
        write_batch(
            stream_dir,
            "b2.json",
            [
                payload("O", t0 + dt.timedelta(minutes=5), 25.0),
                payload("O", t0 + dt.timedelta(minutes=50), 31.0),
            ],
            t0,
        )
        q.processAllAvailable()
        rows = spark.table("ohlc_test").collect()
        latest = {}
        for r in rows:  # update mode re-emits; keep the last per window
            latest[(r.location, r.bar_window.start)] = r
        r = latest[("O", t0)]
        assert (r.open, r.high, r.low, r.close, r.n) == (
            25.0,
            31.0,
            20.0,
            31.0,
            3,
        )
    finally:
        q.stop()


def test_quality_gated_sink_resumes_from_checkpoint(spark, stream_dir, tmp_path):
    """Restarting the gated sink from its checkpoint must not re-process
    (and thus double-append) already-gated batches."""
    from bigdata_weather_system_spark.operators.quality import (
        Constraint,
        completeness,
    )
    from bigdata_weather_system_spark.sources.raw_events import (
        parse_raw_events,
    )
    from bigdata_weather_system_spark.streaming import read_event_stream
    from bigdata_weather_system_spark.streaming.pipeline import (
        start_quality_gated_sink,
    )

    t0 = dt.datetime(2025, 11, 14, 10, 0)
    write_batch(stream_dir, "b1.json", [payload("R", t0, 21.0)], t0)
    args = (
        [Constraint("temp_complete", completeness("temperature"), 1.0)],
        str(tmp_path / "good"),
        str(tmp_path / "quarantine"),
        str(tmp_path / "report"),
        str(tmp_path / "ckpt"),
    )

    raw = read_event_stream(spark, "files", stream_dir)
    q = start_quality_gated_sink(parse_raw_events(raw, keep_payload=False), *args)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: nothing new → no duplicate rows; then a new batch flows
    raw2 = read_event_stream(spark, "files", stream_dir)
    q2 = start_quality_gated_sink(parse_raw_events(raw2, keep_payload=False), *args)
    try:
        q2.processAllAvailable()
        assert spark.read.parquet(str(tmp_path / "good")).count() == 1
        write_batch(
            stream_dir, "b2.json",
            [payload("R", t0 + dt.timedelta(hours=1), 22.0)], t0,
        )
        q2.processAllAvailable()
        assert spark.read.parquet(str(tmp_path / "good")).count() == 2
    finally:
        q2.stop()


def test_online_dedup_sink_drops_cross_batch_near_dups(spark, tmp_path):
    """Online corpus dedup: batch 1 bootstraps the index; batch 2's
    near-copy of a batch-1 doc is dropped while its novel doc is kept
    AND indexed, so batch 3's near-copy of the batch-2 novel doc is
    dropped too (the index grows with every admitted survivor)."""
    import json as _json

    from bigdata_weather_system_spark.streaming.pipeline import (
        start_online_dedup_sink,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()

    def write_docs(name, docs):
        with open(src / name, "w") as f:
            for did, text in docs:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely different words populate this second document body"
    write_docs("b1.jsonl", [(1, base), (2, other)])

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    idx = str(tmp_path / "idx")
    sets = str(tmp_path / "sets")
    clean = str(tmp_path / "clean")
    q = start_online_dedup_sink(
        stream, idx, sets, clean, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        assert sorted(
            r.doc_id for r in spark.read.parquet(clean).collect()
        ) == [1, 2]

        novel = "fresh unrelated content arrives with wholly new vocabulary here"
        write_docs(
            "b2.jsonl",
            [(3, base + " zz"), (4, novel)],  # 3 ≈ doc 1; 4 novel
        )
        q.processAllAvailable()
        assert sorted(
            r.doc_id for r in spark.read.parquet(clean).collect()
        ) == [1, 2, 4]

        write_docs("b3.jsonl", [(5, novel + " yy")])  # ≈ doc 4 (batch 2!)
        q.processAllAvailable()
        assert sorted(
            r.doc_id for r in spark.read.parquet(clean).collect()
        ) == [1, 2, 4]
    finally:
        q.stop()


def test_vacuum_snapshot_log_drops_only_folded_history(spark, tmp_path):
    """After compaction to a new base, vacuum removes exactly the files
    whose batches were folded; the surviving log still reproduces the
    current view when applied on top of the compacted base."""
    from bigdata_weather_system_spark.streaming import read_event_stream
    from bigdata_weather_system_spark.streaming.pipeline import (
        read_latest_snapshot,
        read_snapshot_as_of,
        start_incremental_snapshot_sink,
        vacuum_snapshot_log,
    )

    in_dir = tmp_path / "vac_in"
    in_dir.mkdir()
    log = str(tmp_path / "vac_log")
    t0 = dt.datetime(2024, 3, 1, 8, 0)
    write_batch(str(in_dir), "b1.json", [payload("hanoi", t0, 20.0)], t0)
    q = start_incremental_snapshot_sink(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        log_path=log,
        checkpoint_path=str(tmp_path / "vac_ckpt"),
    )
    try:
        q.processAllAvailable()
        write_batch(
            str(in_dir),
            "b2.json",
            [payload("hanoi", t0 + dt.timedelta(minutes=5), 22.0)],
            t0 + dt.timedelta(minutes=5),
        )
        q.processAllAvailable()
    finally:
        q.stop()

    batches = sorted(
        r._batch_id
        for r in spark.read.parquet(log).select("_batch_id").distinct()
        .collect()
    )
    assert len(batches) == 2
    before = {
        r.location: r.temperature
        for r in read_latest_snapshot(spark, log).collect()
    }
    res = vacuum_snapshot_log(spark, log, keep_from_batch=batches[-1])
    assert res["n_deleted"] >= 1 and res["n_kept"] >= 1
    after = {
        r.location: r.temperature
        for r in read_latest_snapshot(spark, log).collect()
    }
    assert after == before == {"hanoi": 22.0}
    # time travel to the vacuumed range is now (correctly) empty
    assert (
        read_snapshot_as_of(spark, log, as_of_batch=batches[0]).count() == 0
    )


def test_streaming_cms_sketch_equals_batch_sketch(spark, tmp_path):
    """The merged streaming sketch must be CELL-IDENTICAL to the batch
    sketch of the full stream (mergeability), and its estimates must
    bound the true per-location counts from above."""
    from bigdata_weather_system_spark.operators.estimate import (
        cms_point_estimates,
        count_min_sketch,
    )
    from bigdata_weather_system_spark.sources.raw_events import (
        parse_raw_events,
    )
    from bigdata_weather_system_spark.streaming import read_event_stream
    from bigdata_weather_system_spark.streaming.pipeline import (
        read_cms_sketch,
        start_cms_sketch_sink,
    )

    in_dir = tmp_path / "cms_in"
    in_dir.mkdir()
    t0 = dt.datetime(2024, 5, 1, 9, 0)
    write_batch(
        str(in_dir),
        "c1.json",
        [payload("hanoi", t0, 20.0)] * 3 + [payload("hue", t0, 25.0)],
        t0,
    )
    write_batch(
        str(in_dir),
        "c2.json",
        [payload("hanoi", t0, 21.0)] * 2 + [payload("danang", t0, 27.0)],
        t0,
    )
    parsed = parse_raw_events(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        keep_payload=False,
    )
    sketch_path = str(tmp_path / "cms_log")
    q = start_cms_sketch_sink(
        parsed,
        "location",
        sketch_path,
        str(tmp_path / "cms_ckpt"),
        width=64,
        depth=3,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    merged = read_cms_sketch(spark, sketch_path)
    batch_rows = spark.createDataFrame(
        [("hanoi",)] * 5 + [("hue",)] * 1 + [("danang",)] * 1,
        "location string",
    )
    full = count_min_sketch(batch_rows, "location", width=64, depth=3)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    q_items = spark.createDataFrame(
        [("hanoi",), ("hue",), ("danang",), ("saigon",)], "location string"
    )
    est = {
        r.location: r.cms_estimate
        for r in cms_point_estimates(
            merged, q_items, "location", width=64, depth=3
        ).collect()
    }
    assert est["hanoi"] >= 5 and est["hue"] >= 1 and est["danang"] >= 1
    assert est["saigon"] <= 7  # can only collide, never exceed N


def test_snapshot_change_data_feed(spark, tmp_path):
    """CDF between two log versions: an advanced key reads as
    update_postimage, a new key as insert, unchanged keys are absent; a
    tombstone-deleted... (the upsert log has no delete op — deletes only
    appear when a key vanishes between versions, which time travel can
    produce via vacuum; here we pin insert/update/unchanged)."""
    from bigdata_weather_system_spark.streaming import read_event_stream
    from bigdata_weather_system_spark.streaming.pipeline import (
        snapshot_changes_between,
        start_incremental_snapshot_sink,
    )

    in_dir = tmp_path / "cdf_in"
    in_dir.mkdir()
    log = str(tmp_path / "cdf_log")
    t0 = dt.datetime(2024, 6, 1, 7, 0)
    write_batch(
        str(in_dir),
        "b1.json",
        [payload("hanoi", t0, 20.0), payload("hue", t0, 25.0)],
        t0,
    )
    q = start_incremental_snapshot_sink(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        log_path=log,
        checkpoint_path=str(tmp_path / "cdf_ckpt"),
    )
    try:
        q.processAllAvailable()
        write_batch(
            str(in_dir),
            "b2.json",
            [
                payload("hanoi", t0 + dt.timedelta(minutes=10), 22.0),
                payload("danang", t0, 27.0),
            ],
            t0 + dt.timedelta(minutes=10),
        )
        q.processAllAvailable()
    finally:
        q.stop()

    batches = sorted(
        r._batch_id
        for r in spark.read.parquet(log).select("_batch_id").distinct()
        .collect()
    )
    changes = {
        r.location: (r._change_type, r.temperature)
        for r in snapshot_changes_between(
            spark, log, from_batch=batches[0], to_batch=batches[-1]
        ).collect()
    }
    assert changes == {
        "hanoi": ("update_postimage", 22.0),
        "danang": ("insert", 27.0),
    }  # hue unchanged -> absent from the feed


def test_bitmap_distinct_sink_matches_batch_recompute(spark, tmp_path):
    """Incremental exact-distinct maintenance: three micro-batches with
    cross-batch overlap append word partials; the reader's bit_or
    re-merge + popcount must equal a batch count(distinct) over the
    union — and appending a DUPLICATE batch must change nothing
    (bitmap OR idempotence = replay safety without exactly-once)."""
    from bigdata_weather_system_spark.streaming.pipeline import (
        read_bitmap_distinct,
        start_bitmap_distinct_sink,
    )

    in_dir = tmp_path / "bm_in"
    in_dir.mkdir()
    log = str(tmp_path / "bm_log")
    t0 = dt.datetime(2024, 3, 1, 9, 0)
    day2 = t0 + dt.timedelta(days=1)
    locs_b1 = ["hanoi", "hue", "danang"]
    locs_b2 = ["hanoi", "saigon"]          # overlaps b1 on day 1
    locs_b3 = ["hue", "cantho", "vinh"]    # day 2
    write_batch(str(in_dir), "b1.json", [payload(l, t0, 20.0) for l in locs_b1], t0)
    q = start_bitmap_distinct_sink(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        log_path=log,
        checkpoint_path=str(tmp_path / "bm_ckpt"),
    )
    try:
        q.processAllAvailable()
        write_batch(str(in_dir), "b2.json", [payload(l, t0, 21.0) for l in locs_b2], t0)
        q.processAllAvailable()
        write_batch(str(in_dir), "b3.json", [payload(l, day2, 19.0) for l in locs_b3], day2)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        str(r["day"]): r["n_distinct"]
        for r in read_bitmap_distinct(spark, log).collect()
    }
    # crc32 of these 6 fixed strings is collision-free (precondition of
    # the hash-id mode, asserted here so the test can't silently rot)
    import zlib

    all_locs = set(locs_b1) | set(locs_b2) | set(locs_b3)
    assert len({zlib.crc32(l.encode()) for l in all_locs}) == len(all_locs)
    assert got == {
        "2024-03-01": len(set(locs_b1) | set(locs_b2)),
        "2024-03-02": len(set(locs_b3)),
    }

    # replay: re-append batch-1's words directly — reader must not move
    words = spark.read.parquet(log)
    words.limit(2).write.mode("append").parquet(log)
    got2 = {
        str(r["day"]): r["n_distinct"]
        for r in read_bitmap_distinct(spark, log).collect()
    }
    assert got2 == got


def test_streaming_station_profile_stream_static_join(spark, stream_dir, tmp_path):
    from bigdata_weather_system_spark.streaming.pipeline import (
        streaming_station_profile,
    )

    t0 = dt.datetime(2025, 11, 14, 10, 0)
    # A and B share station 1; C has no dimension row (null station)
    stations = spark.createDataFrame(
        [("A", 1), ("B", 1)], "location string, station_id int"
    )
    write_batch(
        stream_dir,
        "b1.json",
        [payload("A", t0, 20.0), payload("B", t0 + dt.timedelta(minutes=5), 24.0),
         payload("C", t0, 99.0)],
        t0,
    )
    raw = read_event_stream(spark, "files", stream_dir, max_files_per_trigger=1)
    agg = streaming_station_profile(raw, stations)
    q = (
        agg.writeStream.format("memory")
        .queryName("station_profile_test")
        .outputMode("update")
        .start()
    )
    try:
        rows = wait_for(
            lambda: (
                r := spark.table("station_profile_test").collect(),
                r if len(r) >= 2 else None,
            )[1]
        )
        assert rows is not None, "stream-static join produced no output"
        by_station = {r.station_id: r for r in rows}
        # station 1 aggregates BOTH locations' readings in the hour window
        assert by_station[1].n_events == 2
        assert by_station[1].avg_temperature == 22.0
        assert by_station[1].min_temperature == 20.0
        assert by_station[1].max_temperature == 24.0
        # unmatched location degrades visibly: null station, not dropped
        assert None in by_station and by_station[None].n_events == 1
    finally:
        q.stop()


def test_theta_sketch_sink_estimates_and_is_replay_safe(spark, tmp_path):
    """Incremental KMV/theta distinct maintenance: micro-batches append
    their k smallest entity hashes; the reader's k-smallest-of-union
    re-merge must (a) be EXACT below k distinct entities, and (b) be
    unchanged when a duplicate batch is replayed (union-of-minima
    idempotence = replay safety without exactly-once)."""
    import datetime as dt

    from bigdata_weather_system_spark.streaming.pipeline import (
        read_theta_sketch,
        start_theta_sketch_sink,
    )

    in_dir = tmp_path / "th_in"
    in_dir.mkdir()
    log = str(tmp_path / "th_log")
    t0 = dt.datetime(2024, 3, 1, 9, 0)
    locs_b1 = ["hanoi", "hue", "danang"]
    locs_b2 = ["hanoi", "saigon", "cantho"]  # overlaps b1
    write_batch(
        str(in_dir), "b1.json", [payload(l, t0, 20.0) for l in locs_b1], t0
    )
    q = start_theta_sketch_sink(
        read_event_stream(spark, path=str(in_dir), max_files_per_trigger=1),
        sketch_path=log,
        checkpoint_path=str(tmp_path / "th_ckpt"),
        k=64,
    )
    try:
        q.processAllAvailable()
        write_batch(
            str(in_dir), "b2.json", [payload(l, t0, 21.0) for l in locs_b2], t0
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_theta_sketch(spark, log, k=64).collect()[0]
    n_true = len(set(locs_b1) | set(locs_b2))
    # below k the sketch is exhaustive: estimate must be EXACT
    assert got["n_in_sketch"] == n_true
    assert got["theta"] == 1.0
    assert got["n_distinct_est"] == float(n_true)

    # replay: re-append batch 1's sketch rows verbatim — no change
    import pyspark.sql.functions as F  # noqa: N812

    first = spark.read.parquet(log).filter(F.col("_batch_id") == 0)
    first.write.mode("append").parquet(log)
    again = read_theta_sketch(spark, log, k=64).collect()[0]
    assert again["n_distinct_est"] == got["n_distinct_est"]
    assert again["n_in_sketch"] == got["n_in_sketch"]
