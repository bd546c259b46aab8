"""Structured Streaming pipelines (SURVEY §2.9 T1-T8).

The parse chain from ``sources/raw_events.py`` is stateless, so the SAME
function serves batch snapshots and streams (T7 duality — the reference
proves this pattern with ``_parse_kafka_dataframe``).

Two sink modes:
- **memory sink** (reference parity, spark.py:289-297): append-mode named
  table, queryable via ``spark.table``; unbounded driver heap — test/demo
  only.
- **parquet sink + checkpoint** (the serving shape, SURVEY §4.3):
  durable, exactly-once file output; interactive queries hit the table with
  ``spark.read.parquet`` and get late rows integrated retroactively because
  every query re-derives latest-per-key (T5 lambda-ish semantics). Each
  micro-batch commits ONE parquet file: every serve request opens every
  sink file, so the per-request cost grows with the file count, not the
  row count (see ``start_parquet_sink`` for the numbers and the limit).

Watermarking: the reference has none (T3) — parse-only streams need none in
append mode. ``streaming_hourly_profile`` shows the stateful variant: a
tumbling event-time window aggregation with a watermark bounding state.

Kafka: ``read_event_stream(source="kafka", ...)`` emits the same plan from
``spark.readStream.format("kafka")``; tests use the file source (no broker
in this environment) — the parse chain is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from pyspark.sql import types as T

from ..sources.raw_events import parse_raw_events

#: File-transport raw schema: JSON carries key/value as plain strings (the
#: parse chain's binary→string cast is a no-op on strings; Kafka sources
#: yield binary and hit the same chain — T7 duality).
RAW_FILE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    source: str = "files",
    path: str | None = None,
    kafka_bootstrap: str | None = None,
    topic: str | None = None,
    starting_offsets: str = "earliest",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded stream of raw (key, value, timestamp) event rows."""
    if source == "kafka":
        if not kafka_bootstrap or not topic:
            raise ValueError(
                "read_event_stream(source='kafka') requires kafka_bootstrap "
                "and topic (a None option dies as an opaque JVM error)"
            )
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
        )
        return reader.load().select("key", "value", "timestamp")
    if not path:
        raise ValueError("read_event_stream(source='files') requires path")
    reader = spark.readStream.schema(RAW_FILE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path).select("key", "value", "timestamp")


def start_memory_sink(
    raw_stream: DataFrame,
    table_name: str = "weather_events",
    trigger_seconds: int | None = None,
    keep_payload: bool = True,
) -> StreamingQuery:
    """Parse chain → append-mode in-memory table (reference parity)."""
    parsed = parse_raw_events(raw_stream, keep_payload=keep_payload)
    writer = (
        parsed.writeStream.outputMode("append")
        .format("memory")
        .queryName(table_name)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_parquet_sink(
    raw_stream: DataFrame,
    path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
    keep_payload: bool = False,
) -> StreamingQuery:
    """Parse chain → durable parquet append with checkpoint (exactly-once
    file sink; the durable replacement for the memory sink). Payload map is
    dropped by default — the heaviest column, rarely needed downstream.

    One file per micro-batch: the parse chain ends in ``coalesce(1)`` (a
    narrow merge of the batch's input splits, no shuffle), so a batch that
    picks up k crawl files commits one parquet file instead of k. The serve
    routes re-read the whole sink on every request, and on a 4-core host
    each sink file adds about 1.8–2 ms to a request while the stream
    ingests (route medians fell 0.07–0.22 s when the sink went from 100 to
    31 files) and 0.6–0.8 ms to an isolated count or latest-per-key read
    of 50 000 rows (100 files vs 4). The file sink's ``_spark_metadata``
    log still records each commit, so delivery stays exactly-once.

    Limit: one task parses and writes each micro-batch. On a 4-core host
    that task sustained about 40 000 rows/s over a 200 000-row backlog
    (one batch of 40 crawl files; the same batch split over 4 tasks ran
    at about 100 000 rows/s). The reference crawls one row per location
    per 300 s trigger, so one task keeps up with N locations as long as
    N / 300 s stays far below 40 000 rows/s (12 million rows per 300 s).
    Bulk loads and history backfills belong on batch writes, or on a
    stream capped with ``max_files_per_trigger`` (``read_event_stream``)
    so each batch stays one task's work. The sink still grows by one
    file per trigger; compacting it is an open item.
    """
    parsed = parse_raw_events(raw_stream, keep_payload=keep_payload).coalesce(1)
    writer = (
        parsed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_dedup(
    raw_stream: DataFrame,
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("location", "event_timestamp"),
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins, duplicates
    arriving within the watermark horizon are dropped, and state for a key
    is evicted once the watermark passes it — bounded state at any stream
    length (vs. batch W2 dedup which re-ranks the full history, reference
    getSample.py:128-136). Uses dropDuplicatesWithinWatermark so a late
    duplicate is still caught even when it lands in a later micro-batch."""
    parsed = parse_raw_events(raw_stream, keep_payload=False)
    return parsed.withWatermark("event_timestamp", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each left row pairs with right rows
    of the same key whose event time falls in ``[left_ts - lookback,
    left_ts]``.

    Both sides carry a watermark and the join condition bounds right-time
    relative to left-time, so Spark can evict join state once the watermark
    passes the interval — bounded state on unbounded streams (the
    correctness condition for stream-stream joins; without the time bound
    state grows forever). Right columns are prefixed to avoid collisions.

    ``how="left_outer"`` additionally emits unmatched left rows
    null-extended — but only once the watermark has passed their join
    window (the engine must prove no matching right row can still arrive),
    so outer results trail the inner ones by the watermark delay.
    """
    if how not in ("inner", "left_outer", "leftOuter", "left"):
        raise ValueError(f"unsupported stream-stream join type: {how!r}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r_renamed = right.select(
        [F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    )
    r = r_renamed.withWatermark(f"{right_prefix}{right_ts}", watermark).alias("r")
    rk, rt = f"{right_prefix}{key}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{rk}"))
        & (F.col(f"r.{rt}") <= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{rt}")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
    )
    return l.join(r, cond, how)


def streaming_hourly_profile(
    raw_stream: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful streaming variant of the hourly profile: tumbling 1-hour
    event-time windows with a watermark bounding state (T3/T4 — the
    capability the reference computes only at query time). Returns the
    unbounded aggregated DataFrame; caller attaches a sink (update mode)."""
    parsed = parse_raw_events(raw_stream, keep_payload=False)
    return (
        parsed.withWatermark("event_timestamp", watermark)
        .groupBy(
            F.window("event_timestamp", "1 hour").alias("hour_window"),
            F.col("location"),
        )
        .agg(
            F.avg("temperature").alias("avg_temperature"),
            F.avg("windspeed").alias("avg_windspeed"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def streaming_session_profile(
    raw_stream: DataFrame,
    gap: str = "6 hours",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateful streaming SESSION windows: per-location gap-based sessions
    via ``F.session_window`` — the streaming twin of the batch
    sessionizers (operators/temporal.py sessionize and the batch
    session_window query). Sessions merge across micro-batches while
    open; the watermark closes a session once event time passes its end,
    bounding state. Spark only supports APPEND output for streaming
    session aggregations — a session is emitted exactly once, when it
    closes — so downstream sees final sessions, never partials."""
    parsed = parse_raw_events(raw_stream, keep_payload=False)
    return (
        parsed.withWatermark("event_timestamp", watermark)
        .groupBy(
            F.session_window("event_timestamp", gap).alias("session"),
            F.col("location"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("temperature").alias("avg_temperature"),
        )
    )


def start_incremental_snapshot_sink(
    raw_stream: DataFrame,
    log_path: str,
    checkpoint_path: str,
    keys: tuple[str, ...] = ("location",),
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """foreachBatch upsert pattern without a table format: each micro-batch
    is deduped to its latest row per key, stamped with the batch id, and
    APPENDED to a parquet log. The mutable-snapshot semantics live at read
    time (``read_latest_snapshot``) — append-only storage, so restarts
    re-appending a batch are harmless (the rank in the reader picks one
    winner deterministically via the batch-id tie-break).

    This is the engine-native stand-in for MERGE INTO where Delta/Iceberg
    isn't available: writes stay append-only and atomic-per-file at any
    scale; ``compact_snapshot`` folds the log down when it grows.
    """
    parsed = parse_raw_events(raw_stream, keep_payload=False)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.latest import latest_per_key

        (
            latest_per_key(batch_df, keys)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(log_path)
        )

    writer = parsed.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_latest_snapshot(
    spark: SparkSession,
    log_path: str,
    keys: tuple[str, ...] = ("location",),
) -> DataFrame:
    """Current upsert view of the append log: latest row per key, breaking
    event-time ties by arrival order (kafka ts, then batch id)."""
    from ..operators.latest import top_n_per_key

    log = spark.read.parquet(log_path)
    order = [
        F.col("event_timestamp").desc(),
        F.col("kafka_timestamp").desc(),
        F.col("_batch_id").desc(),
    ]
    return top_n_per_key(log, list(keys), order).drop("_batch_id")


def read_snapshot_as_of(
    spark: SparkSession,
    log_path: str,
    keys: tuple[str, ...] = ("location",),
    as_of_batch: int | None = None,
    as_of_time=None,
) -> DataFrame:
    """TIME TRAVEL over the append log: the upsert view as it stood after
    micro-batch ``as_of_batch`` (inclusive) and/or at ingest time
    ``as_of_time`` — the Delta/Iceberg ``VERSION AS OF`` / ``TIMESTAMP AS
    OF`` read, owned by the reader because the log is append-only (history
    is never rewritten, so every historical snapshot stays addressable
    until compaction folds it). The batch/time predicates are plain column
    filters, so they push into the parquet scan and prune files whose
    footer stats exclude the range."""
    from ..operators.latest import top_n_per_key

    log = spark.read.parquet(log_path)
    if as_of_batch is not None:
        log = log.filter(F.col("_batch_id") <= as_of_batch)
    if as_of_time is not None:
        log = log.filter(F.col("kafka_timestamp") <= F.lit(as_of_time))
    order = [
        F.col("event_timestamp").desc(),
        F.col("kafka_timestamp").desc(),
        F.col("_batch_id").desc(),
    ]
    return top_n_per_key(log, list(keys), order).drop("_batch_id")


def compact_snapshot(
    spark: SparkSession,
    log_path: str,
    compacted_path: str,
    keys: tuple[str, ...] = ("location",),
) -> None:
    """Fold the append log down to one row per key at ``compacted_path``
    (a separate location — never overwrite a path being read). Run
    periodically; readers switch paths atomically by convention."""
    read_latest_snapshot(spark, log_path, keys).withColumn(
        "_batch_id", F.lit(-1)
    ).write.mode("overwrite").parquet(compacted_path)


def start_quality_gated_sink(
    stream: DataFrame,
    constraints,
    good_path: str,
    quarantine_path: str,
    report_path: str,
    checkpoint_path: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Quality-gated ingest: every micro-batch is evaluated against the
    declarative constraint list (``operators.quality``) in one aggregation
    pass; batches where every constraint passes append to ``good_path``,
    failing batches land in ``quarantine_path`` INTACT (append-only, so a
    fixed upstream can replay them), and the per-batch constraint report
    is appended to ``report_path`` stamped with the batch id — the
    quality history table an on-call engineer actually pages through.

    This is the streaming twin of the batch gate: same Constraint objects,
    same single-pass metric evaluation, applied per micro-batch inside
    ``foreachBatch``. The gate decision collects only the (tiny) report
    relation — never batch rows.
    """
    from ..operators.quality import check_constraints

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        report = check_constraints(batch_df, constraints)
        rows = report.collect()  # n_constraints rows — bounded
        spark = batch_df.sparkSession
        (
            spark.createDataFrame(rows, report.schema)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(report_path)
        )
        ok = all(r.passed for r in rows)
        dest = good_path if ok else quarantine_path
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(dest)

    writer = stream.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_ohlc_bars(
    raw_stream: DataFrame,
    bar: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators.temporal.ohlc_bars``: watermarked
    tumbling event-time windows with open/close via ``min_by``/``max_by``
    on the event timestamp — the same mergeable-aggregate trick, so
    incremental state per (location, window) is O(1): four scalars and
    two (value, ts) argmax pairs, merged across micro-batches exactly
    like map-side combine merges partials in batch."""
    parsed = parse_raw_events(raw_stream, keep_payload=False)
    v = F.col("temperature")
    ts = F.col("event_timestamp")
    return (
        parsed.withWatermark("event_timestamp", watermark)
        .groupBy(
            F.window("event_timestamp", bar).alias("bar_window"),
            F.col("location"),
        )
        .agg(
            F.min_by(v, ts).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, ts).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def start_online_dedup_sink(
    doc_stream: DataFrame,
    index_path: str,
    sets_path: str,
    clean_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Online corpus dedup: every micro-batch of incoming documents is
    matched against the MATERIALIZED LSH index
    (``operators.dedup.materialize_lsh_index``), survivors append to the
    clean corpus, and — the part that makes it *online* — the survivors'
    band postings and shingle sets append to the index, so batch N+1
    dedups against everything batch N admitted. Within a batch,
    exact-duplicate content is collapsed first (smallest id wins).

    Scale shape per batch: cost tracks the BATCH and its index
    collisions (broadcast band keys against the band-partitioned index),
    never the corpus; index growth is append-only parquet — compact with
    ``operators.layout.compact_small_files`` on a maintenance cadence.
    """
    from ..operators.dedup import (
        dedup_incoming,
        exact_dedup,
        materialize_lsh_index,
        minhash_signatures,
        shingle_sets,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        batch = exact_dedup(batch_df, id_col, text_col)
        if not os.path.exists(index_path):
            # first batch bootstraps the index
            clean = batch
        else:
            matches = dedup_incoming(
                spark,
                batch,
                index_path,
                sets_path,
                id_col=id_col,
                text_col=text_col,
                n=n,
                threshold=threshold,
            )
            losers = matches.select(
                F.col("new_id").alias(id_col)
            ).distinct()
            clean = batch.join(losers, id_col, "left_anti")
        clean = clean.persist()
        try:
            if clean.limit(1).count() == 0:
                return
            clean.write.mode("append").parquet(clean_path)
            if not os.path.exists(index_path):
                materialize_lsh_index(
                    clean, index_path, sets_path, id_col, text_col, n
                )
            else:
                # append the survivors' postings + sets — batch-sized I/O
                from ..operators.dedup import lsh_band_keys

                lsh_band_keys(
                    minhash_signatures(clean, id_col, text_col, n), id_col
                ).write.mode("append").partitionBy("band").parquet(index_path)
                shingle_sets(clean, id_col, text_col, n).write.mode(
                    "append"
                ).parquet(sets_path)
        finally:
            clean.unpersist()

    writer = doc_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_online_linear_train(
    stream: DataFrame,
    stats_path: str,
    model_path: str,
    checkpoint_path: str,
    feature_cols: list[str],
    label_col: str,
    reg: float = 0.0,
    add_intercept: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Online distributed trainer — the streaming twin of
    ``operators.training.ridge_train_distributed`` (U6 × T-family).

    Every micro-batch contributes its sufficient statistics (per-Arrow-
    batch XᵀX/Xᵀy partials — a narrow map, never the rows), written to
    ``stats_path/batch_id=N`` with per-batch OVERWRITE so a replayed
    batch after a crash is idempotent (the dedup sink's append-only
    index cannot offer that; statistics can, because the batch id keys
    them). The model refresh then re-merges ALL banked partials (a
    p²+p-doubles-per-file relation, independent of row count) and
    Newton-solves driver-side, appending one row per refresh to
    ``model_path``: after batch N the model EQUALS the batch estimator
    on every row seen so far — exact incremental learning, not a decay
    heuristic, by the additivity of normal-equation statistics. Pinned
    3 batches deep in tests/test_distributed_training.py.
    """
    import numpy as np

    from ..operators.training import (
        linear_sufficient_stats,
        merge_sufficient_stats,
    )

    p = len(feature_cols) + (1 if add_intercept else 0)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        stats = linear_sufficient_stats(
            batch_df, feature_cols, label_col, add_intercept
        )
        (
            stats.withColumn("batch_id", F.lit(int(batch_id)))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(stats_path, f"batch_id={batch_id}"))
        )
        banked = spark.read.parquet(os.path.join(stats_path, "*"))
        xtx, xty, n = merge_sufficient_stats(banked, p)
        lam = reg * np.eye(p)
        if add_intercept:
            lam[-1, -1] = 0.0
        beta = np.linalg.solve(xtx + lam, xty)
        spark.createDataFrame(
            [
                (
                    int(batch_id),
                    int(n),
                    [float(b) for b in beta],
                )
            ],
            "batch_id long, n_rows long, coefficients array<double>",
        ).coalesce(1).write.mode("append").parquet(model_path)

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_online_ivf_index(
    vec_stream: DataFrame,
    index_path: str,
    centroids_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Online ANN index maintenance — the streaming twin of
    ``operators.similarity.materialize_ivf_index`` +
    ``ivf_index_append`` (the pattern ``start_online_dedup_sink`` set
    for the LSH index).

    The FIRST micro-batch trains the coarse quantizer (deterministic
    md5-ranked seeding over that batch) and persists the centroids as
    JSON next to the index — they ARE the index metadata, and every
    later batch (and every restart, which reloads the file) assigns
    against the SAME frozen quantizer. Each batch then runs one narrow
    assignment pass and lands under ``index_path/batch=N/cell=K/`` with
    per-batch OVERWRITE, so a replayed batch after a crash is
    idempotent — the batch-id banking discipline of
    ``start_online_linear_train`` applied to index rows, which an
    append-only write could not offer. Serving reads the whole root via
    ``cosine_topk_ivf_indexed`` unchanged: probe joins prune on
    ``cell`` across all batch directories, touching n_probe/n_cells of
    the files no matter how many batches have landed.

    Because the quantizer is frozen, results over the grown index are
    IDENTICAL to a full rebuild under the same centroids — the append
    invariant the oracle-checked ``cosine_topk_ivf_incremental``
    contract query pins in SQL. Centroid drift is a monitored, offline
    concern: re-train when ``ann_recall_contract``'s floor degrades,
    then rewrite once — never in the hot append path.
    """
    import json
    import os

    from ..operators.similarity import ivf_centroids, ivf_index_append

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.limit(1).count():
            return
        if os.path.exists(centroids_path):
            with open(centroids_path) as fh:
                cents = json.load(fh)
        else:
            cents = ivf_centroids(
                batch_df, id_col, vec_col, n_cells, seed, hash_fn="md5"
            )
            tmp = f"{centroids_path}.tmp.{batch_id}"
            with open(tmp, "w") as fh:
                json.dump(cents, fh)
            os.replace(tmp, centroids_path)  # atomic publish
        ivf_index_append(
            batch_df, index_path, cents, id_col, vec_col, batch_id=int(batch_id)
        )

    writer = vec_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def snapshot_changes_between(
    spark: SparkSession,
    log_path: str,
    from_batch: int,
    to_batch: int,
    keys: tuple[str, ...] = ("location",),
) -> DataFrame:
    """CHANGE DATA FEED between two snapshot versions — Delta CDF's
    ``table_changes(from, to)`` on the append log: diff the upsert views
    as-of ``from_batch`` and ``to_batch`` and emit one row per changed
    key with ``_change_type`` ∈ insert | update_postimage | delete.
    Because time travel is just a batch filter, the feed derives from the
    SAME reader both snapshots use — no separately-maintained changelog
    to drift out of sync. The full-outer join runs on the two (already
    key-deduped) snapshot relations, not the log."""
    before = read_snapshot_as_of(spark, log_path, keys, as_of_batch=from_batch)
    after = read_snapshot_as_of(spark, log_path, keys, as_of_batch=to_batch)
    key_list = list(keys)
    b = before.select(
        *[F.col(k).alias(f"_bk_{k}") for k in key_list],
        F.struct(*[c for c in before.columns]).alias("_b"),
    )
    a = after.select(
        *[F.col(k).alias(f"_ak_{k}") for k in key_list],
        F.struct(*[c for c in after.columns]).alias("_a"),
    )
    cond = None
    for k in key_list:
        eq = F.col(f"_bk_{k}").eqNullSafe(F.col(f"_ak_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = b.join(a, cond, "full_outer")
    change = (
        F.when(F.col("_b").isNull(), F.lit("insert"))
        .when(F.col("_a").isNull(), F.lit("delete"))
        .when(F.col("_a") != F.col("_b"), F.lit("update_postimage"))
    )
    out_row = F.coalesce(F.col("_a"), F.col("_b"))
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(F.col("_change_type"), out_row.alias("row"))
        .select("_change_type", "row.*")
    )


def vacuum_snapshot_log(
    spark: SparkSession,
    log_path: str,
    keep_from_batch: int,
) -> dict:
    """Retention for the append log — compaction's missing sibling: after
    ``compact_snapshot`` folds everything below a batch id into a new
    base, the older log files are dead weight (and dead TIME TRAVEL
    range); drop them. File selection reads parquet FOOTERS only (each
    micro-batch appends whole files stamped with one ``_batch_id``, so a
    file whose footer max(_batch_id) < keep_from_batch contains no live
    row); footer stats are gathered on executors via the same manifest
    kernel the file-pruning reader uses. Returns counts for the audit
    log. Files at/after the cutoff — and files missing stats,
    conservatively — are untouched."""
    import glob as _glob
    import os as _os

    from ..sources.manifest import build_manifest

    if not _glob.glob(_os.path.join(log_path, "*.parquet")):
        return {"n_files_before": 0, "n_deleted": 0, "n_kept": 0}
    man = build_manifest(spark, log_path, ["_batch_id"])
    rows = man.select("file", "max__batch_id").collect()
    doomed = [
        r.file
        for r in rows
        if r.max__batch_id is not None and r.max__batch_id < keep_from_batch
    ]
    for f in doomed:
        _os.remove(f)
    return {
        "n_files_before": len(rows),
        "n_deleted": len(doomed),
        "n_kept": len(rows) - len(doomed),
    }


def apply_log_to_snapshot(
    spark: SparkSession,
    base_path: str,
    log_path: str,
    out_path: str,
    keys: tuple[str, ...],
    seq_cols: tuple[str, ...],
    op_col: str | None = None,
    delete_values: tuple[str, ...] = ("delete",),
) -> None:
    """Tombstone-aware snapshot maintenance: fold the streaming append
    log into the base snapshot with the SAME ``operators.cdc.apply_changes``
    the batch path uses — latest change per key upserts, a tombstone op
    deletes, untouched base rows survive. Batch/stream duality means the
    merge semantics are defined (and tested) exactly once.

    Writes to ``out_path`` (never in place — readers switch paths
    atomically by convention, as with ``compact_snapshot``).
    """
    from ..operators.cdc import apply_changes

    base = spark.read.parquet(base_path)
    log = spark.read.parquet(log_path)
    drop = [c for c in ("_batch_id",) if c in log.columns]
    apply_changes(
        base,
        log.drop(*drop),
        key_cols=list(keys),
        seq_cols=list(seq_cols),
        op_col=op_col,
        delete_values=delete_values,
    ).write.mode("overwrite").parquet(out_path)


def start_cms_sketch_sink(
    stream: DataFrame,
    item_col: str,
    sketch_path: str,
    checkpoint_path: str,
    width: int = 1024,
    depth: int = 4,
) -> StreamingQuery:
    """Streaming frequency sketch: each micro-batch folds into a Count-Min
    sketch relation APPENDED to parquet — mergeability (cell-wise sum) is
    what makes the sketch streamable: the reader re-sums cells across all
    appended batch sketches (``read_cms_sketch``) and answers point
    queries without ever storing or rescanning the stream itself. Batch
    sketches are ≤ depth·width rows each, so the log grows with batch
    COUNT, not event volume; compact by re-summing into one file when it
    gets long."""
    from ..operators.estimate import count_min_sketch

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            count_min_sketch(
                batch_df.select(item_col), item_col, width=width, depth=depth
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sketch_path)
        )

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def read_cms_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """Merge every appended batch sketch into the current corpus sketch
    (cell-wise sum) — feed to ``operators.estimate.cms_point_estimates``."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def start_bitmap_distinct_sink(
    raw_stream: DataFrame,
    log_path: str,
    checkpoint_path: str,
    id_expr: str = "crc32(cast(location as binary))",
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Streaming maintenance of the EXACT-distinct bitmap word table
    (the incremental twin of the batch ``bitmap_distinct_users_rollup``
    contract query): each micro-batch reduces to its (day, word) bit_or
    partial words and APPENDS them to a parquet log. Because bitmap OR
    is IDEMPOTENT, a restarted/replayed batch re-appending the same
    words is algebraically harmless — the reader's re-merge ORs them
    away, so this sink needs no exactly-once machinery at all (stronger
    than the snapshot sink, which needs its batch-id tie-break).

    ``id_expr`` must map the entity to a NON-NEGATIVE integer id; dense
    surrogate keys give exact distinct counts, hash-derived ids (the
    default crc32, for string entities) are exact only while collision-
    free — dictionary-encode first when exactness matters at scale.
    """
    parsed = parse_raw_events(raw_stream, keep_payload=False)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        words = (
            batch_df.withColumn("_id", F.expr(id_expr).cast("long"))
            .groupBy(
                F.to_date("event_timestamp").alias("day"),
                (F.col("_id") / 64).cast("long").alias("word"),
            )
            .agg(
                F.bit_or(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        " CAST(pmod(_id, 64) AS INT))"
                    )
                ).alias("bits")
            )
            .withColumn("_batch_id", F.lit(batch_id))
        )
        words.write.mode("append").parquet(log_path)

    writer = parsed.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_bitmap_distinct(spark: SparkSession, log_path: str) -> DataFrame:
    """Daily exact-distinct counts from the appended word log: re-merge
    words with ``bit_or`` (collapsing replays and cross-batch overlap),
    then popcount. Any rollup grain — weekly, all-time — is the same
    re-merge at a coarser key, never a rescan of raw events."""
    words = spark.read.parquet(log_path)
    merged = words.groupBy("day", "word").agg(F.bit_or("bits").alias("bits"))
    return merged.groupBy("day").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct")
    )


def streaming_station_profile(
    raw_stream: DataFrame,
    station_map: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC enrichment feeding a stateful rollup — the
    reference's whole streaming product (Kafka feed → per-location
    handling → aggregate) in one declarative plan: each micro-batch
    joins the event stream against a broadcast station-dimension table
    (``location`` → ``station_id``; static side re-read per batch, so a
    dimension refresh is picked up without restarting the query), then
    aggregates tumbling 1-hour event-time windows PER STATION under a
    watermark that bounds state.

    The stream-static join needs no watermark of its own (no state — it
    is a map-side broadcast hash join inside every micro-batch); only
    the windowed aggregation holds state. Unmatched locations are kept
    with a null station (left join) so a missing dimension row degrades
    visibly, not silently.
    """
    parsed = parse_raw_events(raw_stream, keep_payload=False)
    enriched = parsed.join(F.broadcast(station_map), on="location", how="left")
    return (
        enriched.withWatermark("event_timestamp", watermark)
        .groupBy(
            F.window("event_timestamp", "1 hour").alias("hour_window"),
            F.col("station_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("temperature").alias("avg_temperature"),
            F.min("temperature").alias("min_temperature"),
            F.max("temperature").alias("max_temperature"),
        )
    )


def start_theta_sketch_sink(
    raw_stream: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    k: int = 64,
    entity_expr: str = "location",
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Streaming maintenance of a KMV/theta distinct sketch (the
    incremental twin of the batch `theta_sketch_user_overlap` contract
    query): each micro-batch reduces to its ≤k smallest distinct 60-bit
    md5 entity hashes and APPENDS them. Theta merge is
    k-smallest-of-union, and the union of appended minima is IDEMPOTENT
    under replay (a re-appended batch's hashes distinct away in the
    reader), so like the bitmap sink this needs no exactly-once
    machinery. Each batch appends ≤k rows — the log grows with batch
    count, never event volume."""
    parsed = parse_raw_events(raw_stream, keep_payload=False)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.conv(
                    F.substring(
                        F.md5(F.expr(entity_expr).cast("string")), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(k)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(sketch_path)
        )

    writer = parsed.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_theta_sketch(
    spark: SparkSession, sketch_path: str, k: int = 64
) -> DataFrame:
    """Merge every appended batch sketch into the current corpus sketch
    (k smallest of the distinct union) and evaluate the KMV estimator:
    1 row with (n_in_sketch, theta, n_distinct_est). With fewer than k
    distinct hashes the sketch is exhaustive and the estimate exact."""
    two60 = 1152921504606846976  # 2^60
    hashes = (
        spark.read.parquet(sketch_path)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    w = Window.orderBy("h")
    ranked = hashes.select(
        "h", F.row_number().over(w).alias("rk")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
        F.when(
            F.count(F.lit(1)) >= k,
            F.max(F.when(F.col("rk") == k, F.col("h"))) * 1.0 / two60,
        )
        .otherwise(F.lit(1.0))
        .alias("theta"),
    ).select(
        "n_in_sketch",
        F.round("theta", 9).alias("theta"),
        F.round(
            F.when(
                F.col("n_in_sketch") >= k, (k - 1) / F.col("theta")
            ).otherwise(F.col("n_in_sketch") * 1.0),
            4,
        ).alias("n_distinct_est"),
    )
