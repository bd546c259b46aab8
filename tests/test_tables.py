"""Table loader: one schema inference per file, then declared-schema reads
with the same dtypes and values as inference plus the ``timestamp_ntz``
cast, and the events nanos shim."""

from __future__ import annotations

import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from bigdata_weather_system_spark.schemas import TESTDATA_TABLES
from bigdata_weather_system_spark.sources.tables import load_table

from conftest import TEST_SF_DIR

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_in(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted under its own job group.
    A marker job in a later group is awaited first: the status store sees
    job starts in order, so once the marker shows, ``fn``'s jobs have."""
    sc = spark.sparkContext
    tag = f"tables-{time.monotonic_ns()}"
    try:
        sc.setJobGroup(f"{tag}:fn", "counted")
        fn()
        sc.setJobGroup(f"{tag}:marker", "marker")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"{tag}:marker"):
        assert time.time() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(f"{tag}:fn"))


def test_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    shutil.copy(f"{TEST_SF_DIR}/orders.parquet", tmp_path / "orders.parquet")
    assert _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "orders")) >= 1
    assert _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0


def _fingerprint(df):
    """Order-insensitive value fingerprint over every column."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\0")) for c in df.columns]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)), F.sum(F.col("h").cast("decimal(38,0)"))
    ).first()


def _inferred_then_cast(spark, path):
    """Plain inference read with every ``timestamp_ntz`` column cast to
    session-timezone ``timestamp`` — the shape ``load_table`` must keep."""
    df = spark.read.parquet(path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


@pytest.mark.parametrize("name", TESTDATA_TABLES)
def test_declared_read_matches_inferred_read(spark, name):
    got = load_table(spark, TEST_SF_DIR, name)
    want = _inferred_then_cast(spark, f"{TEST_SF_DIR}/{name}.parquet")
    assert got.dtypes == want.dtypes
    assert _fingerprint(got) == _fingerprint(want)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "part.parquet"
    pq.write_table(pa.table({"p_partkey": [1, 2], "p_name": ["a", "b"]}), path)
    assert load_table(spark, str(tmp_path), "part").columns == ["p_partkey", "p_name"]
    pq.write_table(
        pa.table({"p_partkey": [3], "p_size": [7.5], "p_brand": ["x"]}), path
    )
    df = load_table(spark, str(tmp_path), "part")
    assert df.dtypes == [("p_partkey", "bigint"), ("p_size", "double"), ("p_brand", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, 7.5, "x")]


def test_nanos_events_load_as_micros_and_plain_events_leave_conf_unset(
    spark, tmp_path
):
    ns = [1_700_000_000_123_456_789, 1_700_000_360_000_000_999, 1_699_999_999_999_999_001]
    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        nanos_dir / "events.parquet",
        version="2.6",
        coerce_timestamps=None,
    )
    stored = pq.read_schema(nanos_dir / "events.parquet").field("ts").type
    assert stored == pa.timestamp("ns")
    try:
        df = load_table(spark, str(nanos_dir), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = {
            r.event_id: r.us
            for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        }
        assert got == {i + 1: v // 1000 for i, v in enumerate(ns)}
    finally:
        spark.conf.unset(_NANOS_CONF)

    plain_dir = tmp_path / "plain"
    plain_dir.mkdir()
    shutil.copy(f"{TEST_SF_DIR}/events.parquet", plain_dir / "events.parquet")
    load_table(spark, str(plain_dir), "events").count()
    assert spark.conf.get(_NANOS_CONF, None) is None
