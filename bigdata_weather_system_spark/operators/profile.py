"""Bucketed aggregation profiles + deterministic mode.

The reference pastes one agg-histogram-mode-join block six times
(``/root/reference/prediction/preprocessing/spark.py:598-645, 709-759,
830-874, 952-1000, 1065-1115, 1173-1216``); here it is one parameterized
operator (SURVEY.md §4.3 asks for exactly this).

Pipeline per bucket: metric aggregates (avg/min/max/count...), plus the
modal value of a categorical column with a deterministic tie-break
(highest count first, then smallest value — reference parity with
``asc_nulls_last`` at ``spark.py:632-635``; we avoid ``F.mode`` because its
tie-break is nondeterministic and would not oracle-match).

Scale notes:
- With a modal column the whole profile is one scan: a grouping-sets
  aggregate over ``[bucket]`` and ``[bucket, mode_col]`` (one ``Expand``
  under a partial ``HashAggregate``, so rows are combined map-side before
  the only shuffle) yields the per-bucket metrics and the per-value
  histogram together; one small re-aggregation on the bucket key then
  picks the metrics row and the modal value. No join, so a NULL bucket is
  just another group.
- No presentation sort: callers that show buckets in order sort the few
  collected rows themselves instead of paying a range exchange.
- Bucket expressions must stay sargable (``date_trunc``/``to_date`` on a
  native timestamp, not ``date_format`` strings) so date-partitioned tables
  prune at the scan.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def mode_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Most frequent ``value_col`` per group; ties → smallest value."""
    # Histogram + window, not Spark's ``F.mode``: plain ``F.mode`` drops
    # NULLs, which the reference tie-break counts as a value, and on Spark
    # 4.1.2 ``F.mode(F.struct(F.isnull(v), v), True)`` returns wrong modes
    # once a task holds more than 128 groups (the ObjectHashAggregate
    # sort-based fallback threshold): 9 of 1500 users were wrong on the
    # sf0.1 ``events`` table. Pinned by
    # ``test_mode_many_groups_ties_and_null_modes``.
    out_col = out_col or f"modal_{value_col}"
    hist = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_cnt").desc(), F.col(value_col).asc_nulls_last()
    )
    return (
        hist.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, F.col(value_col).alias(out_col))
    )


def bucketed_profile(
    df: DataFrame,
    bucket_expr: Column,
    bucket_name: str,
    metric_aggs: Sequence[Column],
    mode_col: str | None = None,
    mode_out: str | None = None,
) -> DataFrame:
    """Group rows into buckets; aggregate metrics + optional modal category.

    ``metric_aggs`` are pre-aliased aggregate columns (e.g.
    ``F.round(F.avg("value"), 6).alias("avg_value")``). Rows come out in no
    particular order.

    With ``mode_col`` the output gains ``mode_out`` (default
    ``modal_<mode_col>``): the most frequent value per bucket, ties to the
    smallest value, NULL only when it is strictly the most frequent (the
    ``mode_per_group`` rule). One grouping-sets aggregate computes the
    metrics per bucket (``_g`` = 1) and a count per (bucket, value)
    (``_g`` = 0); the re-aggregation takes each metric from the ``_g`` = 1
    row and the mode as the ``_g`` = 0 row with the smallest
    ``(-count, isnull, value)``.
    """
    bucketed = df.withColumn(bucket_name, bucket_expr)
    if mode_col is None:
        return bucketed.groupBy(bucket_name).agg(*metric_aggs)
    mode_out = mode_out or f"modal_{mode_col}"
    sets = bucketed.groupingSets(
        [[bucket_name], [bucket_name, mode_col]], bucket_name, mode_col
    ).agg(
        *metric_aggs,
        F.count(F.lit(1)).alias("_cnt"),
        F.grouping(mode_col).alias("_g"),
    )
    internal = (bucket_name, mode_col, "_cnt", "_g")
    metrics = [c for c in sets.columns if c not in internal]
    rank = F.struct(
        F.col("_g"), -F.col("_cnt"), F.isnull(mode_col), F.col(mode_col)
    )
    return sets.groupBy(bucket_name).agg(
        *[F.max_by(sets[c], "_g").alias(c) for c in metrics],
        F.min_by(mode_col, rank).alias(mode_out),
    )


#: Convenience bucket expressions (sargable — see module docstring).
def hour_bucket(ts_col: str = "ts") -> Column:
    return F.date_trunc("hour", F.col(ts_col))


def day_bucket(ts_col: str = "ts") -> Column:
    return F.to_date(F.col(ts_col))


def epoch_bucket(ts_col: str, seconds: int) -> Column:
    """Fixed-width event-time bucket — the scalable replacement for the
    reference's global row_number bucketing (SURVEY.md §4.3): partitions by
    time arithmetic, no single-partition global sort."""
    return F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(seconds)).cast("long")


def standard_metric_aggs(value_col: str = "value") -> list[Column]:
    v = F.col(value_col)
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg(v), 6).alias("avg_value"),
        F.min(v).alias("min_value"),
        F.max(v).alias("max_value"),
        F.round(F.sum(v), 2).alias("sum_value"),
    ]


def mergeable_profile(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Pre-aggregate to the mergeable partial form: (count, sum, min, max)
    per key. Two partials for the same key combine losslessly — the
    algebraic-aggregate property incremental rollup maintenance relies on."""
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def merge_profiles(
    snapshot: DataFrame, delta: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Merge two mergeable-profile frames (e.g. yesterday's snapshot + one
    new partition's partial) WITHOUT touching raw rows: union + one re-agg
    over count/sum/min/max, then derive avg. At 100 TB this is the
    difference between rescanning the fact table and aggregating only the
    new partition — the incremental-maintenance pattern for any algebraic
    aggregate (avg decomposes into sum+count; medians/distincts need
    sketches instead).

    Closed over its own output: the derived ``avg_value`` (not a mergeable
    partial) is dropped from either input if present, so yesterday's
    MERGED snapshot can be merged again tomorrow.
    """
    key_cols = list(key_cols)
    partial_cols = [*key_cols, "n_rows", "sum_value", "min_value", "max_value"]
    snapshot = snapshot.select(*partial_cols)
    delta = delta.select(*partial_cols)
    merged = snapshot.unionByName(delta).groupBy(*key_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    return merged.withColumn(
        "avg_value", F.col("sum_value") / F.col("n_rows")
    )


def incremental_join_delta(
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """Insert-only incremental maintenance of a materialized JOIN view:
    the new rows of ``(A ∪ ΔA) ⋈ (B ∪ ΔB)`` are exactly

        ΔA ⋈ B  ∪all  A ⋈ ΔB  ∪all  ΔA ⋈ ΔB

    (the delta-join rule — each term pairs at least one new row, and the
    three terms partition the new pairs by which side is new). The view
    refresh therefore touches only delta-sized join inputs on one side
    of every term — the whole point of IVM: refresh cost scales with the
    CHANGE, not the view. Deletes/updates compose from this plus the
    tombstone path (operators/cdc.py); aggregates over the view compose
    with mergeable_profile.
    """
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )
