"""Unit tests for latest-per-key / mode / bucketed-profile operators."""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigdata_weather_system_spark.operators.latest import (
    dedup_latest,
    latest_per_key,
    top_n_per_key,
)
from bigdata_weather_system_spark.operators.profile import (
    bucketed_profile,
    hour_bucket,
    mode_per_group,
)


def ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_latest_per_key_picks_max_ts_then_tiebreak(spark):
    rows = [
        ("a", ts(1), ts(1, 5), 1.0),
        ("a", ts(2), ts(2, 1), 2.0),
        ("a", ts(2), ts(2, 9), 3.0),  # same event ts, later arrival wins
        ("b", ts(0), ts(0, 1), 4.0),
    ]
    df = spark.createDataFrame(
        rows, "location string, event_timestamp timestamp, kafka_timestamp timestamp, v double"
    )
    out = {r.location: r.v for r in latest_per_key(df).collect()}
    assert out == {"a": 3.0, "b": 4.0}


def test_dedup_latest_keeps_newest_arrival(spark):
    rows = [
        ("a", ts(1), ts(1, 1), 1.0),
        ("a", ts(1), ts(1, 9), 2.0),
        ("a", ts(2), ts(2, 0), 3.0),
    ]
    df = spark.createDataFrame(
        rows, "location string, event_timestamp timestamp, kafka_timestamp timestamp, v double"
    )
    out = sorted(r.v for r in dedup_latest(df).collect())
    assert out == [2.0, 3.0]


def test_top_n_per_key(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(3)], "k string, v int"
    )
    out = top_n_per_key(df, ["k"], [F.col("v").desc()], n=2)
    got = sorted((r.k, r.v) for r in out.collect())
    assert got == [("a", 8), ("a", 9), ("b", 1), ("b", 2)]


def test_mode_deterministic_tiebreak(spark):
    # 2×'x', 2×'a' → tie broken by smallest value 'a'
    df = spark.createDataFrame(
        [("g", "x"), ("g", "x"), ("g", "a"), ("g", "a"), ("h", "z")], "k string, c string"
    )
    out = {r.k: r.modal_c for r in mode_per_group(df, ["k"], "c").collect()}
    assert out == {"g": "a", "h": "z"}


def test_mode_nulls_last(spark):
    df = spark.createDataFrame(
        [("g", None), ("g", None), ("g", "b"), ("g", "b")], "k string, c string"
    )
    out = mode_per_group(df, ["k"], "c").collect()
    assert out[0].modal_c == "b"


def _modal_by_mode_per_group(df):
    return {r.k: r.modal for r in mode_per_group(df, ["k"], "v", "modal").collect()}


def _modal_by_bucketed_profile(df):
    out = bucketed_profile(
        df, F.col("k"), "k", [F.count(F.lit(1)).alias("n")], "v", "modal"
    )
    return {r.k: r.modal for r in out.collect()}


@pytest.mark.parametrize(
    "modal_of",
    [_modal_by_mode_per_group, _modal_by_bucketed_profile],
    ids=["mode_per_group", "bucketed_profile"],
)
def test_mode_many_groups_ties_and_null_modes(spark, modal_of):
    """1500 groups whose rows are shuffled across every input partition,
    so each task aggregates far more than 128 groups (the
    ObjectHashAggregate sort-fallback threshold) and meets every group
    both before and after the fallback. Each group holds 8–12 copies of
    each of 0..4 and NULL, so count ties and NULL modes are common. The
    reference is a Counter: highest count, then smallest value, NULL only
    if it is strictly the most frequent. ``F.mode`` over
    ``struct(isnull(v), v)`` gets tens of these groups wrong."""
    rng = random.Random(7)
    rows = [
        (g, v)
        for g in range(1500)
        for v in (0, 1, 2, 3, 4, None)
        for _ in range(rng.randrange(8, 13))
    ]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k int, v int")

    got = modal_of(df)
    counts_of = {}
    for g, v in rows:
        counts_of.setdefault(g, Counter())[v] += 1
    expected, ties = {}, 0
    for g, counts in counts_of.items():
        top = max(counts.values())
        winners = [v for v, c in counts.items() if c == top]
        non_null = [v for v in winners if v is not None]
        expected[g] = min(non_null) if non_null else None
        ties += len(winners) > 1
    assert ties > 300 and sum(v is None for v in expected.values()) > 50
    assert got == expected


def test_bucketed_profile_metric_over_mode_column(spark):
    """A metric that aggregates the mode column itself sees every row of
    the bucket, not the NULLed copy the grouping-sets expansion makes for
    the per-bucket set."""
    rows = [("a", 1), ("a", 1), ("a", 3), ("a", None), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "k string, v int")
    out = bucketed_profile(
        df,
        F.col("k"),
        "k",
        [
            F.count("v").alias("n_v"),
            F.max("v").alias("max_v"),
            F.count(F.lit(1)).alias("n"),
        ],
        "v",
        "modal",
    )
    got = {r.k: (r.n_v, r.max_v, r.n, r.modal) for r in out.collect()}
    assert got == {"a": (3, 3, 4, 1), "b": (0, None, 2, None)}


def test_bucketed_profile_hourly(spark):
    rows = [
        (ts(1, 0), 10.0, "v"),
        (ts(1, 30), 20.0, "v"),
        (ts(1, 45), 30.0, "w"),
        (ts(2, 0), 5.0, "w"),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double, event_type string")
    out = bucketed_profile(
        df,
        hour_bucket("ts"),
        "bucket",
        [F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value")],
        mode_col="event_type",
        mode_out="modal",
    ).collect()
    assert len(out) == 2
    h1, h2 = sorted(out, key=lambda r: r.bucket)
    assert h1.n == 3 and h1.avg_value == 20.0 and h1.modal == "v"
    assert h2.n == 1 and h2.modal == "w"


def test_csv_sink_and_scan_roundtrip(spark, tmp_path):
    """S7 parity: header CSV write + schema'd read back (reference
    weather_utils.py:115-139 does this with pandas; engine-side it's the
    DataFrameWriter/Reader pair)."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(location="hanoi", temperature=20.5), Row(location="hue", temperature=30.0)]
    )
    path = str(tmp_path / "csv_out")
    df.write.mode("overwrite").csv(path, header=True)
    back = spark.read.csv(path, header=True, schema="location string, temperature double")
    assert sorted((r.location, r.temperature) for r in back.collect()) == [
        ("hanoi", 20.5),
        ("hue", 30.0),
    ]


def test_bucketed_profile_keeps_mode_for_null_bucket(spark):
    """Rows with a NULL bucket expression (null timestamps) must still get
    their modal value — a plain equi-join would drop it."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.profile import (
        bucketed_profile,
        day_bucket,
        standard_metric_aggs,
    )

    rows = [
        (datetime(2024, 1, 1, 5), 1.0, "X"),
        (None, 2.0, "Y"),
        (None, 3.0, "Y"),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double, cat string")
    out = bucketed_profile(
        df, day_bucket("ts"), "day", standard_metric_aggs("value"), mode_col="cat"
    )
    by_day = {r.day: r for r in out.collect()}
    assert by_day[None].n_events == 2
    assert by_day[None].modal_cat == "Y"


def test_merge_profiles_closed_over_own_output(spark):
    """Yesterday's MERGED snapshot (which carries the derived avg_value)
    must merge again with a fresh partial."""
    from bigdata_weather_system_spark.operators.profile import (
        merge_profiles,
        mergeable_profile,
    )

    p1 = mergeable_profile(
        spark.createDataFrame([("a", 1.0), ("a", 3.0)], "k string, v double"),
        ["k"], "v",
    )
    p2 = mergeable_profile(
        spark.createDataFrame([("a", 5.0)], "k string, v double"), ["k"], "v"
    )
    p3 = mergeable_profile(
        spark.createDataFrame([("a", 7.0)], "k string, v double"), ["k"], "v"
    )
    twice = merge_profiles(merge_profiles(p1, p2, ["k"]), p3, ["k"])
    r = twice.collect()[0]
    assert (r.n_rows, r.sum_value, r.min_value, r.max_value, r.avg_value) == (
        4, 16.0, 1.0, 7.0, 4.0,
    )


def test_incremental_join_delta_equals_full_recompute(spark):
    """IVM invariant: old_view ∪ delta == full recompute of the join
    over (A ∪ ΔA) ⋈ (B ∪ ΔB), for overlapping keys on both sides."""
    from bigdata_weather_system_spark.operators.profile import (
        incremental_join_delta,
    )

    a_old = spark.createDataFrame([(1, "a1"), (2, "a2")], "k int, av string")
    a_new = spark.createDataFrame([(2, "a3"), (3, "a4")], "k int, av string")
    b_old = spark.createDataFrame([(1, "b1"), (3, "b2")], "k int, bv string")
    b_new = spark.createDataFrame([(2, "b3"), (3, "b4")], "k int, bv string")

    old_view = a_old.join(b_old, "k")
    delta = incremental_join_delta(a_old, b_old, a_new, b_new, ["k"])
    incremental = old_view.unionByName(delta)
    full = a_old.unionByName(a_new).join(b_old.unionByName(b_new), "k")

    inc = sorted(tuple(r) for r in incremental.collect())
    ful = sorted(tuple(r) for r in full.collect())
    assert inc == ful
