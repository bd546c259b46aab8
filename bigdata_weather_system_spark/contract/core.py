"""Driver-contract registry: named queries + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 is exposed here as a named query
over the synthetic testdata tables, paired with ANSI SQL DuckDB can run on
the same parquet files. The driver compares row-count + schema +
order-insensitive value hash, sorting columns by name — so every computed
column is aliased identically on both sides.

Determinism rules (SURVEY.md §7.3):
- float aggregates that involve summation (sum/avg) are rounded on BOTH
  sides (partial-aggregation order differs between engines);
- min/max/count are exact — no rounding;
- mode uses the count-desc, value-asc rank pattern (deterministic ties),
  never engine-native ``mode()``;
- top-k orderings always end in a unique key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.latest import latest_per_key, dedup_latest
from ..operators.profile import (
    bucketed_profile,
    day_bucket,
    epoch_bucket,
    hour_bucket,
    mode_per_group,
    standard_metric_aggs,
)
from ..sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# A-family: aggregations (SURVEY §2.4) — flagship pricing summary (A2-ish)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                    AS avg_qty,
           round(avg(l_extendedprice), 6)                               AS avg_price,
           round(avg(l_discount), 6)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped hash aggregation — partial+final agg, pushed filter.

    Reference parity: the hour/day metric-agg blocks (A2/A3,
    reference spark.py:598-618, 709-731) generalized to the lineitem table.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# W-family: window ranking (latest-per-key W1, dedup W2)
# ---------------------------------------------------------------------------

@register(
    "latest_event_per_user",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (
      SELECT event_id, ts, user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest row per key via window rank (reference spark.py:256-267)."""
    ev = _t(spark, sf_dir, "events")
    return latest_per_key(
        ev, key_cols=("user_id",), ts_col="ts", tiebreak_cols=("event_id",)
    ).select("event_id", "ts", "user_id", "event_type", "value")


@register(
    "dedup_latest_arrival",
    oracle="""
    SELECT user_id, sec, event_id, value
    FROM (
      SELECT user_id, date_trunc('second', ts) AS sec, event_id, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('second', ts)
                                ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_latest_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: dedupe (key, event-time) keeping newest arrival (getSample.py:128-136)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "sec", F.date_trunc("second", F.col("ts"))
    )
    return dedup_latest(
        ev, key_cols=("user_id", "sec"), order_col="event_id"
    ).select("user_id", "sec", "event_id", "value")


# ---------------------------------------------------------------------------
# Bucketed profiles: A2-A6 + J1-J3 (hour / day / epoch-bucket)
# ---------------------------------------------------------------------------

_PROFILE_METRICS_SQL = """
           count(*)                  AS n_events,
           round(avg(value), 6)      AS avg_value,
           min(value)                AS min_value,
           max(value)                AS max_value,
           round(sum(value), 2)      AS sum_value
"""


def _profile_oracle(bucket_sql: str) -> str:
    return f"""
    WITH b AS (SELECT {bucket_sql} AS bucket, value, event_type FROM events),
    agg AS (
      SELECT bucket, {_PROFILE_METRICS_SQL}
      FROM b GROUP BY bucket
    ),
    hist AS (
      SELECT bucket, event_type, count(*) AS cnt FROM b GROUP BY bucket, event_type
    ),
    modal AS (
      SELECT bucket, event_type AS modal_event_type
      FROM (
        SELECT bucket, event_type, row_number() OVER (
                 PARTITION BY bucket ORDER BY cnt DESC, event_type ASC) AS rn
        FROM hist
      ) WHERE rn = 1
    )
    SELECT agg.*, modal.modal_event_type
    FROM agg LEFT JOIN modal USING (bucket)
    """


def _profile_query(bucket_expr_fn) -> QueryFn:
    """bucket_expr_fn is a thunk: Column exprs need a live session to build."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _t(spark, sf_dir, "events")
        return bucketed_profile(
            ev,
            bucket_expr_fn(),
            "bucket",
            standard_metric_aggs("value"),
            mode_col="event_type",
            mode_out="modal_event_type",
        )

    return fn


register("hourly_profile", oracle=_profile_oracle("date_trunc('hour', ts)"))(
    _profile_query(lambda: hour_bucket("ts"))
)
register(
    "daily_profile",
    oracle=_profile_oracle("CAST(CAST(ts AS DATE) AS VARCHAR)"),
)(
    _profile_query(lambda: day_bucket("ts").cast("string"))
)
register(
    "epoch_bucket_profile",
    oracle=_profile_oracle("CAST(floor(epoch(ts) / 21600) AS BIGINT)"),
)(
    _profile_query(lambda: epoch_bucket("ts", 21600))
)


@register(
    "mode_event_type_per_user",
    oracle="""
    SELECT user_id, event_type AS modal_event_type
    FROM (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type ASC) AS rn
      FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
)
def mode_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: deterministic mode (count desc, value asc — spark.py:628-640)."""
    ev = _t(spark, sf_dir, "events")
    return mode_per_group(ev, ["user_id"], "event_type", "modal_event_type")


@register(
    "distinct_event_days",
    oracle="SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events",
)
def distinct_event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distinct days present (reference spark.py:1303-1306), sargable form."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(F.to_date("ts").cast("string").alias("day")).distinct()


@register(
    "average_day",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR)  AS day,
           round(avg(value), 6)               AS average_value,
           count(*)                           AS n_events
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR)
    """,
)
def average_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: whole-day average for one date, with a partition-prunable predicate
    (``to_date(ts) = lit`` not ``date_format(ts) = str`` — SURVEY §4.3)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.to_date("ts") == F.lit("2024-01-15").cast("date"))
        .groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.round(F.avg("value"), 6).alias("average_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# O-family: sorts / top-k
# ---------------------------------------------------------------------------

@register(
    "topk_events_by_value",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY value DESC, event_id ASC LIMIT 100
    """,
)
def topk_events_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: orderBy+limit → TakeOrderedAndProject (no global sort materialized)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .select("event_id", "user_id", "event_type", "value")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# J-family: the full join family (SURVEY §2.3 — capability beyond reference)
# ---------------------------------------------------------------------------

@register(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-style equi-join chain with explicit broadcast of small dims.

    orders is the fact side; customer/nation/region are broadcast so the
    plan is a single scan of orders with map-side hash joins — zero
    shuffles before the final aggregation, which survives any scale-up of
    the fact table.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "order_lineitem_left_join",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus,
           count(l.l_orderkey)            AS n_lines,
           round(sum(COALESCE(l.l_extendedprice, 0)), 2) AS total_price
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderstatus
    """,
)
def order_lineitem_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer equi-join fact-to-fact (shuffle join on the key)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.round(F.sum(F.coalesce(F.col("l_extendedprice"), F.lit(0.0))), 2).alias(
                "total_price"
            ),
        )
    )


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)


@register(
    "part_type_supplier_revenue",
    oracle="""
    SELECT p.p_type AS part_type,
           s.s_name AS supplier_name,
           sum(round(l.l_extendedprice * (1 - l.l_discount) * 10000))
             / 10000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_size >= 25
    GROUP BY p.p_type, s.s_name
    """,
)
def part_type_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-two-dims star join over the part and supplier tables. Both
    dims are explicitly broadcast (part/supplier stay small relative to
    lineitem at every scale factor) and the size filter sits on the dim so
    it prunes before the join, leaving a single lineitem scan with two
    map-side hash joins ahead of the aggregation.

    Revenue sums exact integer ten-thousandths: price×(1−discount) lies
    on a 4-decimal grid, so per-row round(x·10⁴) is an exact integer, the
    sum is order-independent, and the result is returned UNROUNDED — a
    raw double sum can land half an ulp either side of a .xx5 boundary
    depending on combine order, and even on the same double Spark's
    round() (shortest-decimal-repr HALF_UP) and DuckDB's (binary-value)
    disagree at exact boundaries (both observed at sf0.01)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    s = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("p_type").alias("part_type"), F.col("s_name").alias("supplier_name"))
        .agg(
            (F.sum(F.round(revenue * 10000, 0)) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dim filter → two equi-joins → hash agg →
    top-k (TakeOrderedAndProject). The customer filter prunes before the
    join (broadcast), both date predicates push to the scans, and the
    top-k ordering ends in a unique key so LIMIT is deterministic across
    engines."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            # parquet yields timestamp_ntz here; align with the oracle's
            # TIMESTAMP under the UTC session (value-preserving cast)
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc()
        )
        .limit(10)
    )


def _weather_sim_expected_sql() -> str:
    """Literal-VALUES DuckDB oracle for ``weather_sim_source_profile``,
    re-derived here from the source's DOCUMENTED recipe (crc32-seeded,
    ``sources/weather_sim.py:48-72``) without importing it: every value
    is crc32(f"{loc}:{cycle}")-keyed, event time is start + cycle·300 s
    at minute resolution, so the 5 profile rows are computable
    constants. Python float repr round-trips exactly, and the sums fold
    in cycle order — the same order the source's single partition per
    location feeds Spark's partial aggregate — so avg values are
    bit-identical; rounding is left to DuckDB's round(DOUBLE, 6) to
    match Spark's HALF_UP."""
    import zlib

    vals = []
    for loc in ("hanoi", "danang", "hue", "cantho", "haiphong"):
        temps, winds = [], []
        for cycle in range(48):
            s = zlib.crc32(f"{loc}:{cycle}".encode())
            temps.append(float(str(round(15.0 + (s % 2000) / 100.0, 2))))
            winds.append(float(str(round((s // 7 % 400) / 10.0, 1))))
        vals.append(
            f"('{loc}', {sum(temps) / 48!r}, {sum(winds) / 48!r})"
        )
    return f"""
    SELECT location,
           CAST(48 AS BIGINT) AS n_events,
           round(CAST(avg_t AS DOUBLE), 6) AS avg_temperature,
           round(CAST(avg_w AS DOUBLE), 6) AS avg_windspeed,
           TIMESTAMP '2024-01-01 00:00:00' AS first_seen,
           TIMESTAMP '2024-01-01 03:55:00' AS last_seen
    FROM (VALUES {", ".join(vals)}) t(location, avg_t, avg_w)
    """


@register("weather_sim_source_profile", oracle=_weather_sim_expected_sql())
def weather_sim_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native replacement for the reference's REST crawler (S10,
    producer_v2.py:47-228): a custom Python Data Source emitting the
    kafka-shaped feed (one partition per location, key-equality partition
    pruning, replayable stream offsets), profiled through the SAME parse
    chain + per-location aggregation as every other source. The source
    is bit-deterministic (crc32-seeded), so the oracle is the
    literal-VALUES profile re-derived from the documented recipe — a
    FULL value check of source + parse chain + aggregation."""
    from ..sources.raw_events import parse_raw_events
    from ..sources.weather_sim import register_weather_sim

    register_weather_sim(spark)
    # Deliberately left set for the session (matching the session
    # factory's default): the conf is read lazily at EXECUTION of the
    # returned DataFrame, so restoring it here would disable the pushdown
    # this query exists to exercise. It changes plan shape only, never
    # results, for other Python-source reads.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    raw = spark.read.format("weather_sim").option("cycles", "48").load()
    parsed = parse_raw_events(raw, keep_payload=False)
    return (
        parsed.groupBy("location")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("temperature"), 6).alias("avg_temperature"),
            F.round(F.avg("windspeed"), 6).alias("avg_windspeed"),
            F.min("event_timestamp").alias("first_seen"),
            F.max("event_timestamp").alias("last_seen"),
        )
    )


@register(
    "incremental_profile_merge",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           round(sum(value), 2) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           round(sum(value) / count(*), 6) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def incremental_profile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the table is split into a
    'snapshot era' and a 'delta era' (date cutoff), each pre-aggregated
    to mergeable partials (count/sum/min/max), then MERGED without
    rescanning raw rows. The oracle aggregates directly over everything —
    merged partials must be indistinguishable from a full recompute
    (the algebraic-aggregate law incremental rollups rely on)."""
    from ..operators.profile import merge_profiles, mergeable_profile

    ev = _t(spark, sf_dir, "events")
    # mid-range cutoff: both eras must be NON-EMPTY or the merge is
    # vacuously equal to a recompute and the check proves nothing
    # (events span 2024-01-01 .. 2024-01-30 at every SF)
    cutoff = F.lit("2024-01-15").cast("timestamp")
    snapshot = mergeable_profile(
        ev.filter(F.col("ts") < cutoff), ["event_type"], "value"
    )
    delta = mergeable_profile(
        ev.filter(F.col("ts") >= cutoff), ["event_type"], "value"
    )
    merged = merge_profiles(snapshot, delta, ["event_type"])
    return merged.select(
        "event_type",
        "n_rows",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 6).alias("avg_value"),
    )


@register(
    "latest_event_via_argmax",
    oracle="""
    SELECT user_id,
           arg_max(event_id, printf('%020d%020d', epoch_us(ts), event_id))
             AS last_event_id,
           arg_max(value, printf('%020d%020d', epoch_us(ts), event_id))
             AS last_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def latest_event_via_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-per-key as a pure AGGREGATION (max_by) instead of the W1
    window rank — the documented pathological-skew path
    (operators/latest.py): partial max_by combines map-side, so one hot
    key never funnels through a single ranking task. Ordering key is a
    zero-padded (epoch_us, event_id) string — totally ordered and
    portable, where neither engine accepts a struct ordering key in
    argmax."""
    ev = _t(spark, sf_dir, "events")
    okey = F.format_string(
        "%020d%020d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", okey).alias("last_event_id"),
        F.max_by("value", okey).alias("last_value"),
        F.max("ts").alias("last_ts"),
    )
