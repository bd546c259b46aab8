"""Contract queries: extended window analytics, distribution statistics,
deterministic stratified sampling, and higher-order array math.

Fills the last gaps SURVEY §2.5/§2.8 note as "available built-in but
unused by the reference": value-navigation window functions
(first/last/nth/cume_dist), moment statistics per group, and
lambda-based array expressions (transform/aggregate/zip_with) over the
embeddings table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .core import register, _t


@register(
    "window_value_navigation",
    oracle="""
    SELECT event_id, user_id, ts, value,
           first_value(value) OVER w                   AS first_val,
           last_value(value)  OVER w_full              AS last_val,
           nth_value(value, 2) OVER w_full             AS second_val,
           round(cume_dist() OVER w, 6)                AS cume,
           round(percent_rank() OVER w, 6)             AS pct_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           w_full AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-navigation window functions: first/last/nth value and the
    distribution ranks. ``last_value``/``nth_value`` use an explicit
    UNBOUNDED-to-UNBOUNDED frame — the default frame stops at CURRENT ROW,
    which makes last_value a running self-copy (classic footgun; both
    engines agree on the default, so pinning the full frame is a semantic
    choice, not an engine workaround). One shuffle on user_id serves all
    five functions — same window spec, single WindowExec."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 2).over(w_full).alias("second_val"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@register(
    "grouped_distribution_stats",
    oracle="""
    SELECT event_type,
           count(*)                                    AS n,
           round(stddev_samp(value), 6)                AS sd_value,
           round(var_samp(value), 6)                   AS var_value,
           round(covar_samp(value, epoch(ts)), 4)      AS cov_value_time,
           round(corr(value, epoch(ts)), 6)            AS corr_value_time,
           round((avg(value * value * value)
                  - 3 * avg(value) * avg(value * value)
                  + 2 * avg(value) * avg(value) * avg(value))
                 / power(avg(value * value) - avg(value) * avg(value), 1.5),
                 6)                                    AS skew_value
    FROM events
    GROUP BY event_type
    """,
)
def grouped_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distribution statistics (A9 generalized): sample
    stddev/variance, covariance and correlation of value against event
    time, and skewness. Skewness is computed from RAW MOMENTS
    (E[x³] − 3E[x]E[x²] + 2E[x]³) / (E[x²] − E[x]²)^1.5 rather than the
    engines' built-ins — Spark's ``skewness`` is the population estimator
    while DuckDB's applies a sample bias correction, so the built-ins can
    never hash-match; the moment formula is engine-portable and still one
    map-side-combining aggregation pass."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("value")
    t = F.col("ts").cast("double")
    m1, m2, m3 = F.avg(x), F.avg(x * x), F.avg(x * x * x)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp(x), 6).alias("sd_value"),
        F.round(F.var_samp(x), 6).alias("var_value"),
        F.round(F.covar_samp(x, t), 4).alias("cov_value_time"),
        F.round(F.corr(x, t), 6).alias("corr_value_time"),
        F.round(
            (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
            / F.pow(m2 - m1 * m1, F.lit(1.5)),
            6,
        ).alias("skew_value"),
    )


@register(
    "per_user_value_trend",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           round(covar_pop(value, epoch(ts)) / var_pop(epoch(ts)), 6) + 0.0
             AS slope_per_sec,
           round(avg(value)
                 - covar_pop(value, epoch(ts)) / var_pop(epoch(ts)) * avg(epoch(ts)),
                 4) + 0.0 AS intercept
    FROM events
    GROUP BY user_id
    HAVING var_pop(epoch(ts)) > 0
    """,
)
def per_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key simple linear regression (value ~ time) in closed form:
    slope = cov(x,y)/var(x), intercept = ȳ − slope·x̄ — one partial-agg
    hash aggregation over built-in covar/var/avg, no Python in the plan.
    The per-entity trend-feature shape for ML prep: fitting a million
    per-key models costs exactly one shuffle of constant-width partials.
    Keys with a degenerate time axis (a single distinct ts) are dropped."""
    ev = _t(spark, sf_dir, "events")
    x = F.col("ts").cast("double")
    y = F.col("value")
    slope = F.covar_pop(y, x) / F.var_pop(x)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0
            # on one engine and 0.0 on the other; -0.0 + 0.0 == 0.0)
            (F.round(slope, 6) + F.lit(0.0)).alias("slope_per_sec"),
            (F.round(F.avg(y) - slope * F.avg(x), 4) + F.lit(0.0)).alias(
                "intercept"
            ),
            F.var_pop(x).alias("_vx"),
        )
        .filter(F.col("_vx") > 0)
        .drop("_vx")
    )


@register(
    "stratified_event_sample",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM (
      SELECT event_id, user_id, event_type, value,
             CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS b
      FROM events
    )
    WHERE b < CASE event_type WHEN 'purchase' THEN 100
                              WHEN 'click' THEN 20
                              ELSE 5 END
    """,
)
def stratified_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-stratum rates (keep all
    purchases, 20% of clicks, 5% of the rest) decided by a CONTENT HASH
    of the row key, not ``sampleBy``/``rand()`` — reproducible across
    runs, engines, and partitionings, which is what makes a 100 TB
    sample auditable. Pure projection + filter on the scan: no shuffle,
    no state, trivially parallel."""
    ev = _t(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("event_type") == "purchase", 100)
        .when(F.col("event_type") == "click", 20)
        .otherwise(5)
    )
    return ev.filter(bucket < rate).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "weighted_event_sample",
    oracle="""
    SELECT event_id, user_id, weight, round(sample_key, 6) AS sample_key
    FROM (
      SELECT event_id, user_id, value AS weight,
             ln((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 16777216 + 1) / 16777217.0) / value
               AS sample_key
      FROM events
      WHERE value > 0
    )
    ORDER BY sample_key DESC, event_id
    LIMIT 200
    """,
)
def weighted_event_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each row gets key = ln(u)/w with u a CONTENT-HASH-
    derived uniform in (0, 1] (md5 bits, no ``rand()``), and the k
    largest keys are the weighted sample — inclusion probability scales
    with weight, reruns/engines/partitionings agree bit-for-bit. Plan:
    scan-local projection + TakeOrderedAndProject top-k; no shuffle
    beyond the top-k merge, the same one-pass shape at any corpus size.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    h = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    u = (h % 16777216 + 1) / F.lit(16777217.0)
    key = F.ln(u) / F.col("value")
    # Round BEFORE the top-k cut: the oracle's ORDER BY sample_key binds
    # to the rounded output alias, so cutting on the unrounded key could
    # admit a different row at the rank-200 boundary when two keys differ
    # by <1e-6 (or by a last-ulp ln() difference between libms).
    return (
        ev.select(
            "event_id",
            "user_id",
            F.col("value").alias("weight"),
            F.round(key, 6).alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("event_id"))
        .limit(200)
    )


@register(
    "weighted_sample_per_type",
    oracle="""
    SELECT event_id, event_type, weight
    FROM (
      SELECT event_id, event_type, value AS weight,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY ln((CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))
                                 AS BIGINT) % 16777216 + 1) / 16777217.0) / value DESC,
                        event_id
             ) AS rn
      FROM events
      WHERE value > 0
    ) WHERE rn <= 50
    """,
)
def weighted_sample_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise A-ES: the 50 largest ln(u)/w keys PER event_type — the
    balanced-training-mix shape (k weighted picks per class in one pass).
    Window rank over the key partitioned by class; WindowGroupLimit keeps
    per-partition state at k rows before the shuffle."""
    from ..operators.latest import top_n_per_key

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    h = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    u = (h % 16777216 + 1) / F.lit(16777217.0)
    scored = ev.select(
        "event_id",
        "event_type",
        F.col("value").alias("weight"),
        (F.ln(u) / F.col("value")).alias("_key"),
    )
    return top_n_per_key(
        scored, ["event_type"], [F.desc("_key"), F.asc("event_id")], n=50
    ).select("event_id", "event_type", "weight")


@register(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(nrm), 4)  AS avg_norm,
           min(nrm)            AS min_norm,
           max(nrm)            AS max_norm
    FROM (
      SELECT label,
             round(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                x -> x * x))), 6) AS nrm
      FROM embeddings
    )
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array math in-plan: per-row L2 norm via
    transform + aggregate lambdas (JVM-side, no UDF), then per-label
    stats. Per-row norms are rounded to 6dp BEFORE aggregation so
    min/max pick identical rows on both engines; the fold runs in
    doubles to keep float32 accumulation error out of the comparison."""
    from ..operators.similarity import norm

    e = _t(spark, sf_dir, "embeddings")
    nrm = F.round(norm(F.col("embedding")), 6)
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


@register(
    "sql_api_revenue_by_status",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           round(avg(o_totalprice), 6) AS avg_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_api_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text entry path: registers the table as a temp view and runs
    literal ANSI SQL through ``spark.sql`` — same Catalyst plan as the
    DataFrame DSL (they meet at the unresolved logical plan), pinned here
    so a user's existing SQL runs verbatim against this engine."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue,
               round(avg(o_totalprice), 6) AS avg_price
        FROM orders_v GROUP BY o_orderstatus
        """
    )


@register(
    "events_column_profile",
    oracle="""
    SELECT 'value' AS column_name,
           count(*)                            AS n_rows,
           count(value)                        AS n_non_null,
           count(DISTINCT value)               AS n_distinct,
           round(min(value), 6)                AS min_d,
           round(max(value), 6)                AS max_d
    FROM events
    UNION ALL
    SELECT 'user_id',
           count(*), count(user_id), count(DISTINCT user_id),
           round(min(user_id), 6), round(max(user_id), 6)
    FROM events
    UNION ALL
    SELECT 'event_id',
           count(*), count(event_id), count(DISTINCT event_id),
           round(min(event_id), 6), round(max(event_id), 6)
    FROM events
    """,
)
def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profiler: null/distinct/min/max per column in
    ONE pass over the table (the UNION ALL in the oracle is three passes —
    Spark-side all six aggregates per column share a single scan and a
    single global aggregation; the per-column rows are unpivoted from one
    aggregate row with a stack expression). The profile a pipeline runs
    before trusting a new 100 TB drop."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("nn_value"),
        F.count_distinct("value").alias("nd_value"),
        F.round(F.min("value"), 6).alias("mn_value"),
        F.round(F.max("value"), 6).alias("mx_value"),
        F.count("user_id").alias("nn_user"),
        F.count_distinct("user_id").alias("nd_user"),
        F.round(F.min("user_id").cast("double"), 6).alias("mn_user"),
        F.round(F.max("user_id").cast("double"), 6).alias("mx_user"),
        F.count("event_id").alias("nn_event"),
        F.count_distinct("event_id").alias("nd_event"),
        F.round(F.min("event_id").cast("double"), 6).alias("mn_event"),
        F.round(F.max("event_id").cast("double"), 6).alias("mx_event"),
    )
    return agg.selectExpr(
        """stack(3,
             'value',    n_rows, nn_value, nd_value, mn_value, mx_value,
             'user_id',  n_rows, nn_user,  nd_user,  mn_user,  mx_user,
             'event_id', n_rows, nn_event, nd_event, mn_event, mx_event
           ) AS (column_name, n_rows, n_non_null, n_distinct, min_d, max_d)"""
    )


@register(
    "part_price_volume_skyline",
    oracle="""
    WITH s AS (
      SELECT p.p_partkey, p.p_retailprice AS price,
             cast(count(*) AS BIGINT) AS n_lineitems
      FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
      GROUP BY p.p_partkey, p.p_retailprice
    )
    SELECT p_partkey, price, n_lineitems FROM s a
    WHERE NOT EXISTS (
      SELECT 1 FROM s b
      WHERE b.price <= a.price AND b.n_lineitems >= a.n_lineitems
        AND (b.price < a.price OR b.n_lineitems > a.n_lineitems)
    )
    """,
)
def part_price_volume_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front) of parts under (minimize retail price,
    maximize order volume) — multi-objective shortlisting without an
    ad-hoc combined score. Two-phase distributed skyline: per-partition
    local fronts (dominance is transitive, so local filtering never
    drops a true skyline row), then one small global merge. The oracle
    is the NOT-EXISTS dominance definition itself — quadratic, exact,
    oracle-scale only."""
    from ..operators.pareto import skyline

    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    s = (
        part.join(li, part["p_partkey"] == li["l_partkey"])
        .groupBy("p_partkey", "p_retailprice")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("price"),
            "n_lineitems",
        )
    )
    return skyline(s, max_cols=["n_lineitems"], min_cols=["price"])


@register(
    "rolling_1h_distinct_types",
    oracle="""
    SELECT a.event_id, a.user_id,
           cast(count(DISTINCT b.event_type) AS BIGINT) AS distinct_types_1h
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts <= a.ts
     AND b.ts >= a.ts - INTERVAL 1 HOUR
    GROUP BY a.event_id, a.user_id
    """,
)
def rolling_1h_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT count: how many distinct event types each
    user produced in the trailing hour, per event. Distinct aggregates
    are not natively windowable in either engine; the Spark side builds
    ``size(array_distinct(collect_list))`` over a RANGE frame — one
    shuffle, state bounded by the window's row count — while the oracle
    takes the self-join + COUNT DISTINCT definition (quadratic, oracle
    scale only). At corpus scale swap the exact set for an HLL sketch
    column merged over the same frame."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w))).cast(
            "long"
        ).alias("distinct_types_1h"),
    )


@register(
    "event_pattern_matches",
    oracle="""
    WITH s AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(regexp_extract_all(seq, 'click,purchase')) AS click_then_buy,
           len(regexp_extract_all(seq, 'error,error')) AS error_bursts,
           regexp_matches(seq, 'signup.*click.*purchase') AS funnel_complete
    FROM s
    """,
)
def event_pattern_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite pattern matching (the MATCH_RECOGNIZE shape Spark lacks):
    each user's history collapses to an ordered type string — one
    ordered aggregation per key — and patterns become plain regexes over
    it: adjacent click→purchase conversions, error bursts, and a
    whole-funnel containment check. Scale note: the per-key sequence
    string is bounded by that key's history; for unbounded keys, window
    the sequence by day/session first (doc_chunk_windows shape). Regexes
    stay in the RE2 ∩ Java common subset.

    Non-overlapping match semantics: both engines scan left-to-right and
    consume matched text ('error,error,error' counts ONE error burst),
    which is what makes the two counts comparable.
    """
    ev = _t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
                )
            ),
            lambda s: s["event_type"],
        ),
        ",",
    )
    return ev.groupBy("user_id").agg(seq.alias("seq")).select(
        "user_id",
        F.regexp_count("seq", F.lit("click,purchase")).cast("long").alias(
            "click_then_buy"
        ),
        F.regexp_count("seq", F.lit("error,error")).cast("long").alias(
            "error_bursts"
        ),
        F.col("seq").rlike("signup.*click.*purchase").alias("funnel_complete"),
    )


@register(
    "type_weekday_chi2",
    oracle="""
    WITH o AS (
      SELECT event_type, dayofweek(ts) AS dow, count(*)::DOUBLE AS obs
      FROM events GROUP BY event_type, dayofweek(ts)
    ),
    t AS (
      SELECT event_type, dow, obs,
             sum(obs) OVER (PARTITION BY event_type) AS row_tot,
             sum(obs) OVER (PARTITION BY dow) AS col_tot,
             sum(obs) OVER () AS n
      FROM o
    )
    SELECT round(sum((obs - row_tot * col_tot / n)
                     * (obs - row_tot * col_tot / n)
                     / (row_tot * col_tot / n)), 6) AS chi2,
           cast((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS BIGINT) AS dof
    FROM t
    """,
)
def type_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for event type × weekday — the
    contingency screening a feature pipeline runs before trusting a
    categorical interaction. Observed cell counts, marginal expectations
    via three window sums over the SAME small contingency relation, one
    final reduction — nothing touches the raw table twice."""
    ev = _t(spark, sf_dir, "events")
    o = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).cast("double").alias("obs"))
    t = (
        o.withColumn("row_tot", F.sum("obs").over(Window.partitionBy("event_type")))
        .withColumn("col_tot", F.sum("obs").over(Window.partitionBy("dow")))
        .withColumn("n", F.sum("obs").over(Window.partitionBy()))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return t.agg(
        F.round(F.sum((F.col("obs") - e) * (F.col("obs") - e) / e), 6).alias(
            "chi2"
        ),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("dow") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "source_lang_divergence",
    oracle="""
    WITH c AS (
      SELECT source, lang, count(*)::DOUBLE AS n
      FROM documents GROUP BY source, lang
    ),
    p AS (
      SELECT source, lang, n,
             n / sum(n) OVER (PARTITION BY source) AS p,
             sum(n) OVER (PARTITION BY lang) / sum(n) OVER () AS q
      FROM c
    )
    SELECT source,
           round(sum(p * ln(p / q)) + 0, 6) AS kl_vs_corpus,
           cast(count(*) AS BIGINT) AS n_langs
    FROM p GROUP BY source
    """,
)
def source_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screening: KL(source language mix ‖ corpus
    mix) per source — the shard-vs-corpus divergence a curation pass
    monitors to catch a feed whose language balance shifted. KL is
    finite here by construction (every (source, lang) cell contributes
    to the corpus marginal, so q > 0 wherever p > 0). Window sums over
    the tiny contingency relation; the raw corpus is read once."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    p = F.col("n") / F.sum("n").over(Window.partitionBy("source"))
    q = F.sum("n").over(Window.partitionBy("lang")) / F.sum("n").over(
        Window.partitionBy()
    )
    t = c.withColumn("p", p).withColumn("q", q)
    return t.groupBy("source").agg(
        (F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6)
         + F.lit(0.0)).alias("kl_vs_corpus"),
        F.count(F.lit(1)).alias("n_langs"),
    )


_POISSON_CASE_SQL = """
    CASE WHEN u < 0.367879441171 THEN 0
         WHEN u < 0.735758882343 THEN 1
         WHEN u < 0.919698602929 THEN 2
         WHEN u < 0.981011843123 THEN 3
         WHEN u < 0.996340153172 THEN 4
         WHEN u < 0.999405815182 THEN 5
         ELSE 6 END
"""


@register(
    "bootstrap_value_mean",
    oracle=f"""
    WITH r AS (
      SELECT e.event_id, e.value, b.b,
             CAST(('0x' || substring(md5(CAST(e.event_id AS VARCHAR)
                                         || '_' || CAST(b.b AS VARCHAR)), 1, 15))
                  AS BIGINT) / 1152921504606846976.0 AS u
      FROM events e CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b
    )
    SELECT b AS replica,
           round(sum(({_POISSON_CASE_SQL}) * value)
                 / sum({_POISSON_CASE_SQL}), 6) AS boot_mean
    FROM r GROUP BY b
    """,
)
def bootstrap_value_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (the distributed bootstrap — Chamandy et al.,
    Google 2012): classic resampling needs n draws WITH replacement per
    replica, impossible to coordinate across partitions; Poisson(1)
    per-row weights are an asymptotically equivalent approximation that
    needs NO coordination at all. Weights here are DETERMINISTIC
    (inverse-CDF over a content-hash uniform, not rand()), so the 32
    replica means are reproducible bit-for-bit across engines, runs, and
    partitionings — an auditable confidence interval. Plan: the 32×
    replica fan-out happens map-side and collapses immediately into
    partial aggregates (32 groups), so the shuffle carries 32 rows per
    partition regardless of input size."""
    ev = _t(spark, sf_dir, "events")
    b = F.col("b")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit("_"),
                        b.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(1152921504606846976.0)
    )
    w = (
        F.when(F.col("u") < 0.367879441171, 0)
        .when(F.col("u") < 0.735758882343, 1)
        .when(F.col("u") < 0.919698602929, 2)
        .when(F.col("u") < 0.981011843123, 3)
        .when(F.col("u") < 0.996340153172, 4)
        .when(F.col("u") < 0.999405815182, 5)
        .otherwise(6)
    )
    # the 32× fan-out + md5 weight + partial agg all run BEFORE the
    # first exchange — on a single-file scan that is one core doing 32N
    # hashes; spread the narrow (id, value) projection first (guide
    # §2.5 input skew: one unsplittable input partition)
    from ..operators.similarity import _spread

    return (
        _spread(ev.select("event_id", "value"))
        .crossJoin(spark.range(0, 32).select(F.col("id").alias("b")))
        .withColumn("u", u)
        .groupBy(b.alias("replica"))
        .agg(
            F.round(F.sum(w * F.col("value")) / F.sum(w), 6).alias("boot_mean")
        )
    )


@register(
    "spearman_value_time_per_type",
    oracle="""
    WITH r AS (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rv,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rt
      FROM events
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n,
           round(corr(rv, rt), 6) + 0.0 AS spearman_rho
    FROM r GROUP BY event_type
    """,
)
def spearman_value_time_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of value against event time per type —
    the monotone-trend detector that, unlike Pearson, ignores outliers
    and nonlinearity. Ranks are row_number with a unique tiebreak
    (deterministic in both engines; value ties are measure-zero in this
    data) and Pearson-correlated: two window passes sharing one
    event_type partitioning plus the final aggregation."""
    ev = _t(spark, sf_dir, "events")
    wv = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wt = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    r = ev.select(
        "event_type",
        F.row_number().over(wv).alias("rv"),
        F.row_number().over(wt).alias("rt"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.corr("rv", "rt"), 6) + F.lit(0.0)).alias("spearman_rho"),
    )


@register(
    "value_gini_per_type",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value >= 0
    )
    SELECT event_type,
           cast(any_value(n) AS BIGINT) AS n,
           round(2.0 * sum(i * value) / (any_value(n) * sum(value))
                 - (any_value(n) + 1.0) / any_value(n), 6) AS gini
    FROM r GROUP BY event_type
    """,
)
def value_gini_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of value per event type — the inequality
    metric (0 = uniform, →1 = one row holds everything) a curation pass
    uses to spot sources where a handful of records dominate the mass.
    Closed form over sorted ranks: G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n —
    one ranking window + one aggregation, both on the type key."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") >= 0)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.groupBy("event_type").agg(
        F.any_value("n").alias("_n"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("value"))
            / (F.any_value("n") * F.sum("value"))
            - (F.any_value("n") + 1.0) / F.any_value("n"),
            6,
        ).alias("gini"),
    ).select("event_type", F.col("_n").alias("n"), "gini")


@register(
    "diverse_topk_events",
    oracle="""
    SELECT event_id, user_id, value FROM (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id ASC) AS user_rank
      FROM events
    ) WHERE user_rank <= 5
    ORDER BY value DESC, event_id ASC
    LIMIT 20
    """,
)
def diverse_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-constrained top-k (the search/recommendation quota
    pattern): global top-20 events by value, but no user may contribute
    more than 5 — a per-key WindowGroupLimit rank prunes each partition
    to its quota BEFORE the global TakeOrderedAndProject, so the global
    sort only ever sees ≤5 rows per key regardless of how one hot key
    dominates the raw ordering."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.select("event_id", "user_id", "value")
        .withColumn("user_rank", F.row_number().over(w))
        .filter(F.col("user_rank") <= 5)
        .drop("user_rank")
        .orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(20)
    )


@register(
    "coalesced_user_activity_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch(ts) - 1800 AS lo,
             epoch(ts) + 1800 AS hi
      FROM events
    ),
    m AS (
      SELECT user_id, lo, hi,
             max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_hi
      FROM iv
    ),
    g AS (
      SELECT user_id, lo, hi,
             sum(CASE WHEN prev_max_hi IS NULL OR lo > prev_max_hi
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY lo, hi
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    )
    SELECT user_id, cast(island AS BIGINT) AS island,
           round(min(lo), 3) AS island_start,
           round(max(hi), 3) AS island_end,
           cast(count(*) AS BIGINT) AS n_intervals
    FROM g GROUP BY user_id, island
    """,
)
def coalesced_user_activity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing (the gaps-and-islands merge): each event
    claims a ±30-minute activity window; overlapping or touching windows
    per user merge into islands. Unlike gap sessionization (point-to-
    point gaps), this handles ARBITRARY overlapping intervals: a new
    island starts exactly when an interval's start exceeds the running
    max of all previous ends — one ordered window (running max, one-row
    lag frame) + one cumulative sum + one aggregation, all on the key
    partitioning. The same algebra merges validity windows, maintenance
    windows, or any interval set at any per-key density."""
    ev = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    iv = ev.select(
        "user_id",
        (sec - 1800).alias("lo"),
        (sec + 1800).alias("hi"),
    )
    wo = Window.partitionBy("user_id").orderBy(
        F.col("lo").asc(), F.col("hi").asc()
    )
    prev_max = F.max("hi").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max.isNull() | (F.col("lo") > prev_max), 1
    ).otherwise(0)
    g = iv.withColumn("prev_max_hi", prev_max).withColumn(
        "island",
        F.sum(new_island).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return g.groupBy("user_id", "island").agg(
        F.round(F.min("lo"), 3).alias("island_start"),
        F.round(F.max("hi"), 3).alias("island_end"),
        F.count(F.lit(1)).alias("n_intervals"),
    ).select("user_id", "island", "island_start", "island_end", "n_intervals")


@register(
    "user_rfm_segments",
    oracle="""
    WITH agg AS (
      SELECT user_id,
             max(ts) AS last_seen,
             count(*) AS frequency,
             round(sum(CASE WHEN event_type = 'purchase' THEN value
                            ELSE 0 END), 6) AS monetary
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, frequency, monetary,
             ntile(5) OVER (ORDER BY last_seen, user_id)  AS r_score,
             ntile(5) OVER (ORDER BY frequency, user_id)  AS f_score,
             ntile(5) OVER (ORDER BY monetary, user_id)   AS m_score
      FROM agg
    )
    SELECT user_id, r_score, f_score, m_score,
           cast(r_score AS VARCHAR) || cast(f_score AS VARCHAR)
             || cast(m_score AS VARCHAR) AS rfm_code,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_lapsing'
                WHEN m_score >= 4 THEN 'big_spender_gone'
                ELSE 'hibernating' END AS segment
    FROM scored
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quintiles per
    user (ntile with unique tiebreaks so both engines cut identically),
    composed into the classic marketing segment labels. The quintile
    windows are global but run over the PER-USER aggregate (one row per
    entity), which is always orders of magnitude smaller than the event
    log — the scale shape of every scored-entity segmentation."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ),
            6,
        ).alias("monetary"),
    )
    r = F.ntile(5).over(Window.orderBy("last_seen", "user_id"))
    f = F.ntile(5).over(Window.orderBy("frequency", "user_id"))
    m = F.ntile(5).over(Window.orderBy("monetary", "user_id"))
    scored = agg.select(
        "user_id",
        # DuckDB's ntile yields BIGINT; match it
        r.cast("long").alias("r_score"),
        f.cast("long").alias("f_score"),
        m.cast("long").alias("m_score"),
    )
    seg = (
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when(F.col("m_score") >= 4, "big_spender_gone")
        .otherwise("hibernating")
    )
    return scored.select(
        "user_id",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_code"),
        seg.alias("segment"),
    )


@register(
    "mannwhitney_purchase_vs_click",
    oracle="""
    WITH pooled AS (
      SELECT event_type, value,
             row_number() OVER (ORDER BY value, event_id) AS rk
      FROM events WHERE event_type IN ('purchase', 'click')
    )
    SELECT
      cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS BIGINT) AS n1,
      cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
           AS BIGINT) AS n2,
      cast(sum(CASE WHEN event_type = 'purchase' THEN rk ELSE 0 END)
           - sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             * (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) + 1)
             / 2 AS BIGINT) AS u_stat
    FROM pooled
    """,
)
def mannwhitney_purchase_vs_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) comparing purchase vs click value
    distributions — the nonparametric two-sample location test that
    pairs with the KS shape test. Pooled ranking with a unique tiebreak
    (continuous values make exact ties measure-zero), U = R₁ −
    n₁(n₁+1)/2, all integer algebra after one global ranking of the
    two-class subset (at scale, rank via operators/rank.py global_rank)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pooled = ev.select(
        "event_type",
        F.row_number()
        .over(Window.orderBy(F.col("value").asc(), F.col("event_id").asc()))
        .alias("rk"),
    )
    is_p = (F.col("event_type") == "purchase").cast("long")
    n1 = F.sum(is_p)
    return pooled.agg(
        n1.alias("n1"),
        F.sum(1 - is_p).alias("n2"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", F.col("rk"))
                  .otherwise(0))
            - n1 * (n1 + 1) / 2
        ).cast("long").alias("u_stat"),
    )


@register(
    "km_time_to_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS start_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT user_id,
             CASE WHEN buy_ts IS NOT NULL
                  THEN round(epoch(buy_ts) - epoch(start_ts), 3)
                  ELSE round(epoch(last_ts) - epoch(start_ts), 3) END AS t,
             (buy_ts IS NOT NULL)::INT AS observed
      FROM per_user
      WHERE epoch(last_ts) > epoch(start_ts)
    ),
    ev_t AS (
      SELECT t, sum(observed) AS d,
             (SELECT count(*) FROM durations d2 WHERE d2.t >= e.t) AS n_risk
      FROM durations e GROUP BY t HAVING sum(observed) > 0
    )
    SELECT t AS duration_s, cast(d AS BIGINT) AS n_events,
           cast(n_risk AS BIGINT) AS n_at_risk,
           CASE WHEN min(n_risk - d)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 0
                THEN 0.0
                ELSE round(exp(sum(CASE WHEN d < n_risk
                                        THEN ln(1.0 - d::DOUBLE / n_risk)
                                        ELSE 0.0 END)
                               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                           + 0, 6) END AS survival
    FROM ev_t
    """,
)
def km_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase, with
    users who never purchase RIGHT-CENSORED at their last activity —
    the estimator that uses censored users correctly (dropping them
    biases time-to-convert low; see funnel_time_to_convert for the
    uncensored view). The product-limit Π(1 − dᵢ/nᵢ) is computed as
    exp(Σ ln(·)) — a running window sum, so the whole curve is one
    ordered window over the (tiny) distinct-duration relation; at-risk
    counts come from a non-equi aggregation of durations (both sides
    entity-sized, never the raw log)."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("buy_ts"),
        F.max("ts").alias("last_ts"),
    )
    dur = (
        per_user.filter(
            F.col("last_ts").cast("double") > F.col("start_ts").cast("double")
        )
        .select(
            F.when(
                F.col("buy_ts").isNotNull(),
                F.round(
                    F.col("buy_ts").cast("double")
                    - F.col("start_ts").cast("double"),
                    3,
                ),
            )
            .otherwise(
                F.round(
                    F.col("last_ts").cast("double")
                    - F.col("start_ts").cast("double"),
                    3,
                )
            )
            .alias("t"),
            F.col("buy_ts").isNotNull().cast("int").alias("observed"),
        )
        .cache()
    )
    ev_t = (
        dur.groupBy("t")
        .agg(F.sum("observed").alias("d"))
        .filter(F.col("d") > 0)
    )
    risk = (
        ev_t.alias("e")
        .join(dur.alias("d2"), F.col("d2.t") >= F.col("e.t"))
        .groupBy("e.t", "e.d")
        .agg(F.count(F.lit(1)).alias("n_risk"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # the terminal event time can exhaust the risk set (d == n_risk);
    # the product hits exact zero there and stays zero — guard the log
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    surv = F.when(
        F.min(F.col("n_risk") - F.col("d")).over(w) == 0, F.lit(0.0)
    ).otherwise(F.round(F.exp(F.sum(term).over(w)), 6) + F.lit(0.0))
    return risk.select(
        F.col("t").alias("duration_s"),
        F.col("d").cast("long").alias("n_events"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        surv.alias("survival"),
    )


@register(
    "join_skew_report",
    oracle="""
    WITH k AS (
      SELECT l_orderkey AS key, count(*) AS n FROM lineitem GROUP BY 1
    ),
    s AS (
      SELECT cast(count(*) AS BIGINT) AS n_keys,
             cast(sum(n) AS BIGINT) AS n_rows,
             cast(max(n) AS BIGINT) AS max_key_rows,
             sum(n)::DOUBLE / count(*) AS avg_key_rows
      FROM k
    )
    SELECT n_keys, n_rows, max_key_rows,
           round(avg_key_rows, 6) AS avg_key_rows,
           round(max_key_rows / avg_key_rows, 6) AS skew_factor,
           cast(ceil(max_key_rows / avg_key_rows) AS BIGINT)
             AS recommended_salt_buckets
    FROM s
    """,
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis — the report run before choosing between a
    plain shuffle join, AQE skew handling, and explicit salting
    (operators/skew.py): key cardinality, the heaviest key's row count,
    and the max/avg skew factor, whose ceiling is the salt bucket count
    that would level the heaviest reducer. One map-side-combining groupBy
    on the join key + a 1-row summary."""
    li = _t(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        (F.sum("n") / F.count(F.lit(1))).alias("_avg"),
    )
    return s.select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        F.round(F.col("_avg"), 6).alias("avg_key_rows"),
        F.round(F.col("max_key_rows") / F.col("_avg"), 6).alias(
            "skew_factor"
        ),
        F.ceil(F.col("max_key_rows") / F.col("_avg"))
        .cast("long")
        .alias("recommended_salt_buckets"),
    )


@register(
    "benford_first_digit_audit",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(abs(value) / power(10.0, floor(log10(abs(value)))))
                  AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL AND value <> 0
    ),
    c AS (
      SELECT event_type, d, count(*) AS n FROM v
      WHERE d BETWEEN 1 AND 9 GROUP BY event_type, d
    ),
    g AS (
      SELECT s.event_type, u.d AS d, coalesce(c.n, 0) AS n, s.tot
      FROM (SELECT event_type, sum(n) AS tot FROM c GROUP BY event_type) s
      CROSS JOIN (SELECT unnest(range(1, 10)) AS d) u
      LEFT JOIN c ON c.event_type = s.event_type AND c.d = u.d
    )
    SELECT event_type,
           cast(any_value(tot) AS BIGINT) AS n_values,
           round(list_reduce(
             list((n - tot * log10(1.0 + 1.0 / d))
                  * (n - tot * log10(1.0 + 1.0 / d))
                  / (tot * log10(1.0 + 1.0 / d)) ORDER BY d) || [0.0],
             (a, b) -> a + b), 6) AS chi2
    FROM g GROUP BY event_type
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit per event type: χ² of
    the observed leading-digit histogram against the log10(1+1/d)
    expectation — the classic fabricated-data / pipeline-corruption
    screen (natural multiplicative data follows Benford; uniform or
    hand-entered data fails it hard). One digit projection + one 9-bin
    histogram per group; the 9 χ² terms fold in digit order so float
    addition is engine- and partition-deterministic."""
    ev = _t(spark, sf_dir, "events")
    av = F.abs(F.col("value"))
    digit = F.floor(av / F.pow(F.lit(10.0), F.floor(F.log10(av)))).cast(
        "long"
    )
    v = ev.filter(F.col("value").isNotNull() & (F.col("value") != 0)).select(
        "event_type", digit.alias("d")
    ).filter(F.col("d").between(1, 9))
    c = v.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("event_type").agg(F.sum("n").alias("tot"))
    grid = tot.select(
        "event_type",
        "tot",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("d"),
    )
    g = grid.join(c, ["event_type", "d"], "left").select(
        "event_type",
        "tot",
        "d",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    exp = F.col("tot") * F.log10(1.0 + 1.0 / F.col("d"))
    term = (F.col("n") - exp) * (F.col("n") - exp) / exp
    per = g.groupBy("event_type").agg(
        F.max("tot").alias("n_values"),
        F.array_sort(F.collect_list(F.struct("d", term.alias("t")))).alias(
            "_arr"
        ),
    )
    chi2 = F.aggregate("_arr", F.lit(0.0), lambda acc, s: acc + s["t"])
    return per.select(
        "event_type",
        F.col("n_values").cast("long").alias("n_values"),
        F.round(chi2, 6).alias("chi2"),
    )


@register(
    "holt_linear_forecast_per_user",
    # NOTE: a list_reduce struct-fold oracle would be the natural mirror of
    # the Spark F.aggregate, but chained struct folds returned wrong second
    # fields in DuckDB (single steps verified fine; chains diverged) — so
    # the oracle replays the recursion with a recursive CTE instead, the
    # same pattern the autoregressive-forecast oracle uses.
    oracle="""
    WITH RECURSIVE o AS (
      SELECT user_id, value::DOUBLE AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nn AS (SELECT user_id, max(rn) AS n FROM o GROUP BY user_id
           HAVING max(rn) >= 2),
    init AS (
      SELECT o1.user_id, o1.x AS l, o2.x - o1.x AS b
      FROM o o1 JOIN o o2 ON o1.user_id = o2.user_id
      WHERE o1.rn = 1 AND o2.rn = 2
    ),
    r AS (
      SELECT user_id, 1 AS t, l, b FROM init
      UNION ALL
      SELECT r.user_id, r.t + 1,
             0.3::DOUBLE * o.x + 0.7::DOUBLE * (r.l + r.b),
             0.2::DOUBLE * ((0.3::DOUBLE * o.x
                             + 0.7::DOUBLE * (r.l + r.b)) - r.l)
               + 0.8::DOUBLE * r.b
      FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.t + 1
    )
    SELECT r.user_id,
           cast(nn.n AS BIGINT) AS n_events,
           round(r.l, 6) AS level,
           round(r.b, 6) AS trend,
           round(r.l + r.b, 6) AS forecast_next
    FROM r JOIN nn ON nn.user_id = r.user_id AND r.t = nn.n
    """,
)
def holt_linear_forecast_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per user — level +
    trend state folded over the ordered value stream (α=0.3, β=0.2,
    l₁=x₁, b₁=x₂−x₁), one-step-ahead forecast = l+b. Like the EWMA
    smoother this is a LEFT FOLD, not a window expression, so it runs as
    one ``F.aggregate`` per key with two doubles of state; both engines
    evaluate the identical operation sequence (the level update is
    inlined twice in the trend update rather than bound to a local, so
    the float ops match literally)."""
    ev = _t(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        F.struct(F.col("ts"), F.col("event_id"), F.col("value")).alias("_s"),
    )
    per = (
        ordered.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["value"]
            ).alias("vs")
        )
        .filter(F.size("vs") >= 2)
    )
    x1 = F.element_at("vs", 1)
    x2 = F.element_at("vs", 2)
    seed = F.struct(
        x1.cast("double").alias("l"),
        (x2 - x1).cast("double").alias("b"),
    )

    def step(acc, x):
        new_l = 0.3 * x + 0.7 * (acc["l"] + acc["b"])
        new_b = (
            0.2 * ((0.3 * x + 0.7 * (acc["l"] + acc["b"])) - acc["l"])
            + 0.8 * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    hw = F.aggregate(
        F.slice("vs", 2, F.size("vs") - 1), seed, step
    )
    return per.select(
        "user_id",
        F.size("vs").cast("long").alias("n_events"),
        F.round(hw["l"], 6).alias("level"),
        F.round(hw["b"], 6).alias("trend"),
        F.round(hw["l"] + hw["b"], 6).alias("forecast_next"),
    )


@register(
    "weekly_seasonal_decomposition",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             extract(dow FROM ts) * 24 + extract(hour FROM ts) AS how
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, how, avg(value) AS seasonal
      FROM b GROUP BY event_type, how
    ),
    r AS (
      SELECT b.event_type, b.value, b.value - s.seasonal AS resid
      FROM b JOIN s ON s.event_type = b.event_type AND s.how = b.how
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n_events,
           round(var_pop(value), 4) AS var_total,
           round(var_pop(resid), 4) AS var_residual,
           round(1.0 - var_pop(resid) / var_pop(value), 6)
             AS seasonal_strength
    FROM r GROUP BY event_type
    """,
)
def weekly_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly seasonal decomposition per event type: the hour-of-week
    seasonal component (168 cell means) is removed and the variance it
    explained — seasonal strength = 1 − Var(residual)/Var(total) — is
    the one-number answer to 'is this series weekly-periodic', the
    screen run before committing to seasonal models. Two grouped
    aggregations; the 168-row seasonal profile broadcasts back."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    how = (F.dayofweek("ts") - 1) * 24 + F.hour("ts")
    b = ev.select("event_type", "value", how.alias("how"))
    s = b.groupBy("event_type", "how").agg(F.avg("value").alias("seasonal"))
    r = b.join(F.broadcast(s), ["event_type", "how"]).select(
        "event_type",
        "value",
        (F.col("value") - F.col("seasonal")).alias("resid"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.var_pop("value"), 4).alias("var_total"),
        F.round(F.var_pop("resid"), 4).alias("var_residual"),
        F.round(
            1.0 - F.var_pop("resid") / F.var_pop("value"), 6
        ).alias("seasonal_strength"),
    )


@register(
    "funnel_windowed_conversion",
    oracle="""
    WITH c AS (
      SELECT user_id, min(ts) AS click_ts FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
      SELECT c.user_id, c.click_ts,
             min(e.ts) AS conv_ts
      FROM c JOIN events e
        ON e.user_id = c.user_id
       AND e.event_type = 'purchase'
       AND e.ts > c.click_ts
       AND e.ts <= c.click_ts + INTERVAL 24 HOUR
      GROUP BY c.user_id, c.click_ts
    )
    SELECT CAST(c.click_ts AS DATE) AS click_day,
           cast(count(*) AS BIGINT) AS n_clickers,
           cast(count(p.user_id) AS BIGINT) AS n_converted_24h,
           round(count(p.user_id) * 1.0 / count(*), 6) AS conversion_rate
    FROM c LEFT JOIN p ON p.user_id = c.user_id
    GROUP BY CAST(c.click_ts AS DATE)
    """,
)
def funnel_windowed_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-constraint funnel: a click only converts if a purchase
    lands STRICTLY AFTER it and within 24 hours — the attribution-window
    semantics ad/product funnels actually use (an unconstrained 'ever
    purchased' funnel overcounts). First-click per user is one grouped
    aggregate; the conversion probe is a range-bounded join against the
    (bounded) per-user click anchor, then a per-day rollup."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(
            (F.col("ts") > F.col("click_ts"))
            & (F.col("ts") <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    j = c.join(p, "user_id", "left")
    return j.groupBy(F.to_date("click_ts").alias("click_day")).agg(
        F.count(F.lit(1)).alias("n_clickers"),
        F.count("conv_ts").alias("n_converted_24h"),
        F.round(
            F.count("conv_ts") * 1.0 / F.count(F.lit(1)), 6
        ).alias("conversion_rate"),
    )


@register(
    "clamped_running_balance_per_user",
    oracle="""
    WITH o AS (
      SELECT user_id, value - 50.0 AS delta,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, list(delta ORDER BY rn) AS ds
      FROM o GROUP BY user_id
    )
    SELECT user_id,
           cast(len(ds) AS BIGINT) AS n_events,
           round(list_reduce([0.0::DOUBLE] || ds,
                 (acc, x) -> greatest(0.0::DOUBLE, acc + x)), 6)
             AS final_balance
    FROM s
    """,
)
def clamped_running_balance_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Clamped (floor-at-zero) running balance per user — the
    inventory/credit/token-bucket recursion s ← max(0, s + Δ) that a
    plain window cumulative sum CANNOT express (the clamp makes every
    prefix state-dependent; SQL window sums have no feedback). One fold
    per key, scalar state (safe for the SQL list_reduce mirror — the
    multi-field struct-fold DuckDB defect only bites compound state).
    Δ = value − 50 models a drain-vs-refill stream over the events
    table."""
    ev = _t(spark, sf_dir, "events")
    ordered = ev.select(
        "user_id",
        F.struct(F.col("ts"), F.col("event_id"),
                 (F.col("value") - 50.0).alias("delta")).alias("_s"),
    )
    per = ordered.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list("_s")), lambda s: s["delta"]
        ).alias("ds")
    )
    bal = F.aggregate(
        "ds",
        F.lit(0.0),
        lambda acc, x: F.greatest(F.lit(0.0), acc + x),
    )
    return per.select(
        "user_id",
        F.size("ds").cast("long").alias("n_events"),
        F.round(bal, 6).alias("final_balance"),
    )


@register(
    "longest_daily_streak_per_user",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), idx AS (
      SELECT user_id, d,
             date_diff('day', DATE '2024-01-01', d) AS di,
             row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM days
    ), isl AS (
      SELECT user_id, di - rn AS grp, count(*) AS len
      FROM idx GROUP BY user_id, di - rn
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           count(*)                 AS n_islands
    FROM isl GROUP BY user_id
    """,
)
def longest_daily_streak_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of CONSECUTIVE active days per user — the classic
    gaps-and-islands reduction: distinct (user, day) → integer day index
    minus per-user row_number is constant within a consecutive run, so
    one hash agg over that difference yields island lengths. The
    engagement-streak / uptime-run shape. Two narrow shuffles (distinct,
    then user-partitioned window); the window input is one row per
    active day, not per event, so the sort state is bounded by the
    calendar, not the event volume."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    idx = days.select(
        "user_id",
        F.datediff("d", F.lit("2024-01-01").cast("date")).alias("di"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("d"))
        .alias("rn"),
    )
    isl = idx.groupBy(
        "user_id", (F.col("di") - F.col("rn")).alias("grp")
    ).agg(F.count(F.lit(1)).alias("len"))
    return isl.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_islands"),
    )


@register(
    "ridge_cyclic_regression_per_type",
    oracle="""
    WITH feats AS (
      SELECT event_type, value AS y,
             round(sin(2 * pi() * ((hour(ts)*3600 + minute(ts)*60
                   + CAST(floor(second(ts)) AS BIGINT)) / 86400.0)), 6)
               + 0.0 AS s,
             round(cos(2 * pi() * ((hour(ts)*3600 + minute(ts)*60
                   + CAST(floor(second(ts)) AS BIGINT)) / 86400.0)), 6)
               + 0.0 AS c
      FROM events
    ), stats AS (
      SELECT event_type,
             count(*)                     AS n,
             round(sum(s), 4) + 0.0       AS ss,
             round(sum(c), 4) + 0.0       AS sc,
             round(sum(s*s), 4) + 0.0     AS sss,
             round(sum(c*c), 4) + 0.0     AS scc,
             round(sum(s*c), 4) + 0.0     AS ssc,
             round(sum(y), 4) + 0.0       AS sy,
             round(sum(s*y), 4) + 0.0     AS ssy,
             round(sum(c*y), 4) + 0.0     AS scy
      FROM feats GROUP BY event_type
    ), m AS (
      SELECT event_type, n, sy, ssy, scy,
             n + 1.0   AS a11, ss  AS a12, sc AS a13,
             sss + 1.0 AS a22, ssc AS a23, scc + 1.0 AS a33
      FROM stats
    ), d AS (
      SELECT *,
             a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
               + a13*(a12*a23 - a22*a13) AS det
      FROM m
    )
    SELECT event_type, n,
           round((sy*(a22*a33 - a23*a23) - a12*(ssy*a33 - a23*scy)
                  + a13*(ssy*a23 - a22*scy)) / det, 5) + 0.0 AS beta0,
           round((a11*(ssy*a33 - a23*scy) - sy*(a12*a33 - a23*a13)
                  + a13*(a12*scy - ssy*a13)) / det, 5) + 0.0 AS beta1,
           round((a11*(a22*scy - a23*ssy) - a12*(a12*scy - ssy*a13)
                  + sy*(a12*a23 - a22*a13)) / det, 5) + 0.0 AS beta2
    FROM d
    """,
)
def ridge_cyclic_regression_per_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-group multi-feature ridge regression fit ENTIRELY from
    sufficient statistics: value ~ β0 + β1·sin(tod) + β2·cos(tod) with
    λ = 1.0, one model per event type. One hash aggregation collects the
    9 Gram-matrix/moment sums (constant width per group — the
    distributed-ML pattern: the data never leaves the cluster, only
    X'X / X'y partials do), then the 3×3 normal equations
    (X'X + λI)β = X'y are solved in closed form via Cramer's rule as
    column arithmetic. Fitting a million per-key models costs exactly
    one shuffle of 9 doubles per key. λ > 0 makes the system positive
    definite, so det > 0 — no singular-matrix guard needed (and it
    handles degenerate groups, e.g. all rows at the same time of day).
    Determinism: per-row sin/cos and every aggregated sum are rounded on
    both sides BEFORE the solve, so the engines run identical IEEE
    arithmetic on identical inputs."""
    from ..functions import cyclic_time_features

    ev = _t(spark, sf_dir, "events")
    feats = cyclic_time_features(F.col("ts"))
    s = F.round(feats["tod_sin"], 6) + F.lit(0.0)
    c = F.round(feats["tod_cos"], 6) + F.lit(0.0)
    y = F.col("value")

    def r4(col):
        return F.round(F.sum(col), 4) + F.lit(0.0)

    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r4(s).alias("ss"),
        r4(c).alias("sc"),
        r4(s * s).alias("sss"),
        r4(c * c).alias("scc"),
        r4(s * c).alias("ssc"),
        r4(y).alias("sy"),
        r4(s * y).alias("ssy"),
        r4(c * y).alias("scy"),
    )
    a11 = F.col("n") + F.lit(1.0)
    a12, a13 = F.col("ss"), F.col("sc")
    a22 = F.col("sss") + F.lit(1.0)
    a23 = F.col("ssc")
    a33 = F.col("scc") + F.lit(1.0)
    b1, b2, b3 = F.col("sy"), F.col("ssy"), F.col("scy")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    num0 = (
        b1 * (a22 * a33 - a23 * a23)
        - a12 * (b2 * a33 - a23 * b3)
        + a13 * (b2 * a23 - a22 * b3)
    )
    num1 = (
        a11 * (b2 * a33 - a23 * b3)
        - b1 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * b3 - b2 * a13)
    )
    num2 = (
        a11 * (a22 * b3 - a23 * b2)
        - a12 * (a12 * b3 - b2 * a13)
        + b1 * (a12 * a23 - a22 * a13)
    )
    return g.select(
        "event_type",
        "n",
        (F.round(num0 / det, 5) + F.lit(0.0)).alias("beta0"),
        (F.round(num1 / det, 5) + F.lit(0.0)).alias("beta1"),
        (F.round(num2 / det, 5) + F.lit(0.0)).alias("beta2"),
    )


@register(
    "embedding_int8_quantization",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS arr
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, arr,
             CAST(127.0 AS DOUBLE)
               / list_max(list_transform(arr, x -> abs(x))) AS scale
      FROM v
      WHERE list_max(list_transform(arr, x -> abs(x))) > 0
    ), q AS (
      SELECT vec_id, label, arr, scale,
             list_transform(arr, x -> greatest(-127, least(127,
               CAST(round(x * scale) AS INT)))) AS codes
      FROM s
    ), e AS (
      SELECT label,
             round(list_reduce(
               list_transform(arr, (x, i) ->
                 (x - codes[i] / scale) * (x - codes[i] / scale)),
               (a, b) -> a + b) / len(arr), 12) AS mse,
             list_max(list_transform(arr, (x, i) ->
               abs(x - codes[i] / scale))) AS maxerr
      FROM q
    )
    SELECT label,
           count(*)                 AS n_vectors,
           round(avg(mse), 8) + 0.0 AS avg_mse,
           round(max(maxerr), 8)    AS max_abs_err
    FROM e GROUP BY label
    """,
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    vector-storage compression every large retrieval corpus applies
    before indexing (4x smaller than float32; FAISS SQ8 / Milvus
    equivalents). Per vector: scale = 127/max|x|, codes = clamped
    round(x*scale); the query reports per-label reconstruction error
    (MSE + worst coordinate) of the dequantized vectors — the contract a
    storage team signs off on before switching the corpus to int8. All
    array math is JVM-side lambda algebra (transform/zip_with/aggregate)
    — no UDF, no shuffle until the final per-label rollup of 2 doubles.
    The error fold runs in array order with a 0.0 seed on both engines,
    so cross-engine sums are bit-identical before rounding."""
    e = _t(spark, sf_dir, "embeddings")
    arr = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(arr, lambda x: F.abs(x)))
    base = e.select("vec_id", "label", arr.alias("arr"), mx.alias("mx")).filter(
        F.col("mx") > 0
    )
    scale = F.lit(127.0) / F.col("mx")
    codes = F.transform(
        F.col("arr"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127), F.round(x * scale, 0).cast("int")),
        ),
    )
    q = base.select("label", "arr", scale.alias("scale"), codes.alias("codes"))
    err = F.zip_with(
        F.col("arr"),
        F.col("codes"),
        lambda x, c: (x - c.cast("double") / F.col("scale"))
        * (x - c.cast("double") / F.col("scale")),
    )
    abserr = F.zip_with(
        F.col("arr"),
        F.col("codes"),
        lambda x, c: F.abs(x - c.cast("double") / F.col("scale")),
    )
    per = q.select(
        "label",
        F.round(
            F.aggregate(err, F.lit(0.0), lambda a, b: a + b)
            / F.size("arr"),
            12,
        ).alias("mse"),
        F.array_max(abserr).alias("maxerr"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (F.round(F.avg("mse"), 8) + F.lit(0.0)).alias("avg_mse"),
        F.round(F.max("maxerr"), 8).alias("max_abs_err"),
    )


@register(
    "type_weekday_mutual_info",
    oracle="""
    WITH n AS (SELECT count(*)::DOUBLE AS n FROM events),
    ht AS (
      SELECT round(-sum((c / n.n) * ln(c / n.n)), 6) + 0.0 AS h
      FROM (SELECT event_type, count(*)::DOUBLE AS c
            FROM events GROUP BY 1) CROSS JOIN n
    ),
    hw AS (
      SELECT round(-sum((c / n.n) * ln(c / n.n)), 6) + 0.0 AS h
      FROM (SELECT dayofweek(ts), count(*)::DOUBLE AS c
            FROM events GROUP BY 1) CROSS JOIN n
    ),
    hj AS (
      SELECT round(-sum((c / n.n) * ln(c / n.n)), 6) + 0.0 AS h
      FROM (SELECT event_type, dayofweek(ts), count(*)::DOUBLE AS c
            FROM events GROUP BY 1, 2) CROSS JOIN n
    )
    SELECT CAST(n.n AS BIGINT) AS n,
           ht.h AS h_type, hw.h AS h_weekday, hj.h AS h_joint,
           round(ht.h + hw.h - hj.h, 6) + 0.0 AS mi_nats
    FROM n, ht, hw, hj
    """,
)
def type_weekday_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; weekday) via the entropy identity
    I = H(X) + H(Y) − H(X,Y) — the feature-screening companion to the
    chi-square test (chi2 answers "dependent at all?", MI answers "how
    many nats does knowing the weekday buy?"). Three hash aggregations,
    each over a BOUNDED distinct set (5 types, 7 weekdays, ≤35 joint
    cells), combined through 1-row broadcast cross joins; the raw table
    is scanned for counts only, so the plan is three partial-agg
    shuffles of a handful of rows at any scale. Entropies are rounded
    before the MI subtraction, so both engines derive MI from identical
    inputs. MI is invariant to category relabeling, so the engines'
    different weekday numbering conventions cannot matter."""
    ev = _t(spark, sf_dir, "events")
    n = ev.agg(F.count(F.lit(1)).cast("double").alias("n"))

    def entropy(*cols):
        counts = ev.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("double").alias("c")
        )
        p = F.col("c") / F.col("n")
        return counts.crossJoin(F.broadcast(n)).agg(
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("h")
        )

    ht = entropy("event_type").withColumnRenamed("h", "h_type")
    hw = entropy(F.dayofweek("ts").alias("dow")).withColumnRenamed(
        "h", "h_weekday"
    )
    hj = entropy("event_type", F.dayofweek("ts").alias("dow")).withColumnRenamed(
        "h", "h_joint"
    )
    return (
        n.crossJoin(ht)
        .crossJoin(hw)
        .crossJoin(hj)
        .select(
            F.col("n").cast("long").alias("n"),
            "h_type",
            "h_weekday",
            "h_joint",
            (
                F.round(
                    F.col("h_type") + F.col("h_weekday") - F.col("h_joint"), 6
                )
                + F.lit(0.0)
            ).alias("mi_nats"),
        )
    )


@register(
    "lineitem_numeric_corr",
    oracle="""
    WITH a AS (
      SELECT count(*) AS n,
        covar_pop(l_quantity, l_extendedprice)
          / (stddev_pop(l_quantity) * stddev_pop(l_extendedprice)) AS c_qe,
        covar_pop(l_quantity, l_discount)
          / (stddev_pop(l_quantity) * stddev_pop(l_discount)) AS c_qd,
        covar_pop(l_quantity, l_tax)
          / (stddev_pop(l_quantity) * stddev_pop(l_tax)) AS c_qt,
        covar_pop(l_extendedprice, l_discount)
          / (stddev_pop(l_extendedprice) * stddev_pop(l_discount)) AS c_ed,
        covar_pop(l_extendedprice, l_tax)
          / (stddev_pop(l_extendedprice) * stddev_pop(l_tax)) AS c_et,
        covar_pop(l_discount, l_tax)
          / (stddev_pop(l_discount) * stddev_pop(l_tax)) AS c_dt
      FROM lineitem
    )
    SELECT col_a, col_b, n, round(corr, 6) + 0.0 AS corr FROM (
      SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n, c_qe AS corr FROM a
      UNION ALL SELECT 'l_quantity', 'l_discount', n, c_qd FROM a
      UNION ALL SELECT 'l_quantity', 'l_tax', n, c_qt FROM a
      UNION ALL SELECT 'l_extendedprice', 'l_discount', n, c_ed FROM a
      UNION ALL SELECT 'l_extendedprice', 'l_tax', n, c_et FROM a
      UNION ALL SELECT 'l_discount', 'l_tax', n, c_dt FROM a
    )
    """,
)
def lineitem_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact table's numeric
    measures — the feature-redundancy screen run before any model or
    index choice. ALL six pairs come from ONE aggregation pass
    (covar/stddev sufficient statistics with map-side partials — the
    scan cost is one pass regardless of how many pairs), then the upper
    triangle unpivots to (col_a, col_b, corr) rows with `stack`.
    Correlation is scale-free O(1), so rounding the final ratio at 6dp
    absorbs both engines' float-sum accumulation error without any
    intermediate rounding games."""
    li = _t(spark, sf_dir, "lineitem")

    def corr(x, y):
        return F.covar_pop(x, y) / (F.stddev_pop(x) * F.stddev_pop(y))

    a = li.agg(
        F.count(F.lit(1)).alias("n"),
        corr("l_quantity", "l_extendedprice").alias("c_qe"),
        corr("l_quantity", "l_discount").alias("c_qd"),
        corr("l_quantity", "l_tax").alias("c_qt"),
        corr("l_extendedprice", "l_discount").alias("c_ed"),
        corr("l_extendedprice", "l_tax").alias("c_et"),
        corr("l_discount", "l_tax").alias("c_dt"),
    )
    return a.selectExpr(
        "n",
        """stack(6,
           'l_quantity', 'l_extendedprice', c_qe,
           'l_quantity', 'l_discount', c_qd,
           'l_quantity', 'l_tax', c_qt,
           'l_extendedprice', 'l_discount', c_ed,
           'l_extendedprice', 'l_tax', c_et,
           'l_discount', 'l_tax', c_dt) AS (col_a, col_b, corr)""",
    ).select(
        "col_a",
        "col_b",
        "n",
        (F.round("corr", 6) + F.lit(0.0)).alias("corr"),
    )


@register(
    "sampled_revenue_estimate",
    oracle="""
    WITH tagged AS (
      SELECT l_extendedprice * (1 - l_discount) AS rev,
             CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-'
                   || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 10
               = 0 AS in_sample
      FROM lineitem
    ), s AS (
      SELECT count(*)                                      AS n_total,
             CAST(sum(in_sample::INT) AS BIGINT)           AS n_sample,
             round(sum(rev), 2)                            AS exact_revenue,
             round(10 * sum(CASE WHEN in_sample THEN rev ELSE 0 END), 2)
                                                           AS est_revenue
      FROM tagged
    )
    SELECT n_total, n_sample, exact_revenue, est_revenue,
           round(abs(est_revenue - exact_revenue) / exact_revenue, 6)
             AS rel_err,
           round(abs(est_revenue - exact_revenue) / exact_revenue, 6) <= 0.10
             AS within_10pct
    FROM s
    """,
)
def sampled_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by DETERMINISTIC Bernoulli sampling
    with the Horvitz–Thompson expansion: a 10% hash-sample of the fact
    table (membership decided by a content hash of the row key, so the
    sample is identical on any engine, any partitioning, any day — the
    reproducibility property rand()-sampling lacks) estimates total
    revenue as Σ_sample rev/π with π = 1/10. The audit computes exact
    and estimate in the SAME single scan and emits the realized relative
    error plus a 10% tolerance verdict. At 100 TB this is the
    interactive-dashboard path: the sample predicate pushes to the scan,
    reading 1/10 of the data for a provably-unbiased total; the same
    hash stratifies consistently across tables (join-aware sampling)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    tagged = li.select(rev.alias("rev"), (h % 10 == 0).alias("in_sample"))
    s = tagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("in_sample").cast("int")).alias("n_sample"),
        F.round(F.sum("rev"), 2).alias("exact_revenue"),
        F.round(
            10 * F.sum(F.when(F.col("in_sample"), F.col("rev")).otherwise(0.0)),
            2,
        ).alias("est_revenue"),
    )
    rel = F.round(
        F.abs(F.col("est_revenue") - F.col("exact_revenue"))
        / F.col("exact_revenue"),
        6,
    )
    return s.select(
        "n_total",
        "n_sample",
        "exact_revenue",
        "est_revenue",
        rel.alias("rel_err"),
        (rel <= 0.10).alias("within_10pct"),
    )


@register(
    "conformal_value_intervals",
    oracle="""
    WITH ev AS (
      SELECT event_type, value, event_id, CAST(ts AS DATE) AS d FROM events
    ), mu AS (
      SELECT event_type, round(avg(value), 6) AS mu
      FROM ev WHERE d <= DATE '2024-01-20' GROUP BY event_type
    ), cal AS (
      SELECT e.event_type, round(abs(e.value - mu.mu), 6) AS r, e.event_id
      FROM ev e JOIN mu ON mu.event_type = e.event_type
      WHERE e.d BETWEEN DATE '2024-01-21' AND DATE '2024-01-25'
    ), caln AS (
      SELECT event_type, count(*) AS n_cal FROM cal GROUP BY event_type
    ), ranked AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY r, event_id) AS rk
      FROM cal
    ), q AS (
      SELECT r.event_type, r.r AS q_alpha
      FROM ranked r JOIN caln c ON c.event_type = r.event_type
      WHERE r.rk = least(CAST(ceil(0.9 * (c.n_cal + 1)) AS BIGINT), c.n_cal)
    ), test AS (
      SELECT e.event_type,
             count(*) AS n_test,
             sum(CASE WHEN round(abs(e.value - mu.mu), 6) <= q.q_alpha
                      THEN 1 ELSE 0 END) AS n_covered
      FROM ev e
      JOIN mu ON mu.event_type = e.event_type
      JOIN q ON q.event_type = e.event_type
      WHERE e.d >= DATE '2024-01-26'
      GROUP BY e.event_type
    )
    SELECT t.event_type, c.n_cal, t.n_test, q.q_alpha,
           round(CAST(t.n_covered AS DOUBLE) / t.n_test, 4) AS coverage,
           round(CAST(t.n_covered AS DOUBLE) / t.n_test, 4) >= 0.85
             AS coverage_ok
    FROM test t
    JOIN caln c ON c.event_type = t.event_type
    JOIN q ON q.event_type = t.event_type
    """,
)
def conformal_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event type —
    distribution-free uncertainty quantification with a finite-sample
    guarantee: fit any point model on a train window (here the per-type
    mean), take the ⌈(1−α)(n+1)⌉-th smallest absolute residual on a
    DISJOINT calibration window as the interval half-width q, and the
    interval ŷ ± q covers fresh points with probability ≥ 1−α by
    exchangeability alone — no distributional assumption, any model. The
    query audits the guarantee on a held-out test window (coverage ≥
    0.85 asserted for α = 0.1). Plan: one agg for the model, one
    per-type window rank for the order statistic (calibration-window
    rows only — a deliberate small fraction of the data), one test-side
    conditional count; everything shuffles on event_type. Temporal
    splits (not random) mirror how forecast intervals deploy. Residuals
    and the model mean are rounded identically on both engines before
    ranking and comparison."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id", F.to_date("ts").alias("d")
    )
    mu = (
        ev.filter(F.col("d") <= F.lit("2024-01-20").cast("date"))
        .groupBy("event_type")
        .agg(F.round(F.avg("value"), 6).alias("mu"))
    )
    cal = (
        ev.filter(
            F.col("d").between(
                F.lit("2024-01-21").cast("date"),
                F.lit("2024-01-25").cast("date"),
            )
        )
        .join(mu, "event_type")
        .select(
            "event_type",
            F.round(F.abs(F.col("value") - F.col("mu")), 6).alias("r"),
            "event_id",
        )
    )
    caln = cal.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_cal"))
    ranked = cal.select(
        "event_type",
        "r",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("r", "event_id"))
        .alias("rk"),
    )
    k = F.least(
        F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long"), F.col("n_cal")
    )
    q = (
        ranked.join(caln, "event_type")
        .filter(F.col("rk") == k)
        .select("event_type", F.col("r").alias("q_alpha"))
    )
    test = (
        ev.filter(F.col("d") >= F.lit("2024-01-26").cast("date"))
        .join(mu, "event_type")
        .join(q, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.round(F.abs(F.col("value") - F.col("mu")), 6)
                    <= F.col("q_alpha")
                ).cast("int")
            ).alias("n_covered"),
        )
    )
    cov = F.round(F.col("n_covered").cast("double") / F.col("n_test"), 4)
    return (
        test.join(caln, "event_type")
        .join(q, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "q_alpha",
            cov.alias("coverage"),
            (cov >= 0.85).alias("coverage_ok"),
        )
    )


@register(
    "did_treatment_effect",
    oracle="""
    WITH tagged AS (
      SELECT value,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 = 0 AS treated,
             CAST(ts AS DATE) >= DATE '2024-01-16' AS post
      FROM events
    ), cells AS (
      SELECT
        count(*) FILTER (treated AND post)          AS n_tp,
        count(*) FILTER (treated AND NOT post)      AS n_t0,
        count(*) FILTER (NOT treated AND post)      AS n_cp,
        count(*) FILTER (NOT treated AND NOT post)  AS n_c0,
        round(avg(value) FILTER (treated AND post), 6) + 0.0         AS m_tp,
        round(avg(value) FILTER (treated AND NOT post), 6) + 0.0     AS m_t0,
        round(avg(value) FILTER (NOT treated AND post), 6) + 0.0     AS m_cp,
        round(avg(value) FILTER (NOT treated AND NOT post), 6) + 0.0 AS m_c0
      FROM tagged
    )
    SELECT n_tp, n_t0, n_cp, n_c0, m_tp, m_t0, m_cp, m_c0,
           round((m_tp - m_t0) - (m_cp - m_c0), 6) + 0.0 AS did_estimate
    FROM cells
    """,
)
def did_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the quasi-experimental
    workhorse when randomization isn't available: compare the
    treated group's pre→post outcome change against the control group's
    change, differencing out both group-level baselines and
    period-level shocks. Assignment here is a deterministic user-hash
    split (a placebo design on synthetic data — the true effect is ≈ 0,
    which is itself the diagnostic: a placebo DiD far from zero flags a
    broken parallel-trends assumption or a skewed split). One
    conditional-aggregation pass produces all four cells — no joins, no
    pivot shuffle; the estimate derives from the ROUNDED cell means so
    both engines difference identical inputs."""
    ev = _t(spark, sf_dir, "events")
    treated = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 2
        == 0
    )
    post = F.to_date("ts") >= F.lit("2024-01-16").cast("date")
    t = ev.select("value", treated.alias("treated"), post.alias("post"))

    def cell(cond, agg):
        return agg(F.when(cond, F.col("value")))

    cells = t.agg(
        F.count(F.when(F.col("treated") & F.col("post"), 1)).alias("n_tp"),
        F.count(F.when(F.col("treated") & ~F.col("post"), 1)).alias("n_t0"),
        F.count(F.when(~F.col("treated") & F.col("post"), 1)).alias("n_cp"),
        F.count(F.when(~F.col("treated") & ~F.col("post"), 1)).alias("n_c0"),
        (
            F.round(cell(F.col("treated") & F.col("post"), F.avg), 6)
            + F.lit(0.0)
        ).alias("m_tp"),
        (
            F.round(cell(F.col("treated") & ~F.col("post"), F.avg), 6)
            + F.lit(0.0)
        ).alias("m_t0"),
        (
            F.round(cell(~F.col("treated") & F.col("post"), F.avg), 6)
            + F.lit(0.0)
        ).alias("m_cp"),
        (
            F.round(cell(~F.col("treated") & ~F.col("post"), F.avg), 6)
            + F.lit(0.0)
        ).alias("m_c0"),
    )
    return cells.select(
        "*",
        (
            F.round(
                (F.col("m_tp") - F.col("m_t0"))
                - (F.col("m_cp") - F.col("m_c0")),
                6,
            )
            + F.lit(0.0)
        ).alias("did_estimate"),
    )


@register(
    "huber_location_per_type",
    oracle="""
    WITH s0 AS (
      SELECT event_type,
             round(median(value), 6)                        AS m0,
             round(1.4826 * median(abs(value
                   - (SELECT round(median(v2.value), 6) FROM events v2
                      WHERE v2.event_type = events.event_type))), 6) AS sigma
      FROM events GROUP BY event_type
    ), it1 AS (
      SELECT e.event_type, s0.sigma,
             round(avg(greatest(least(e.value, s0.m0 + 1.345 * s0.sigma),
                                s0.m0 - 1.345 * s0.sigma)), 6) AS m1
      FROM events e JOIN s0 ON s0.event_type = e.event_type
      GROUP BY e.event_type, s0.sigma
    ), it2 AS (
      SELECT e.event_type, i.sigma, i.m1,
             round(avg(greatest(least(e.value, i.m1 + 1.345 * i.sigma),
                                i.m1 - 1.345 * i.sigma)), 6) AS m2
      FROM events e JOIN it1 i ON i.event_type = e.event_type
      GROUP BY e.event_type, i.sigma, i.m1
    )
    SELECT event_type, sigma AS scale_mad, m1 AS huber_step1,
           m2 AS huber_location
    FROM it2
    """,
)
def huber_location_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location per group — the robust mean that
    neither the mean (outlier-dragged) nor the median (discards 50% of
    the information) gives you: iteratively average WINSORIZED values,
    clamping each observation into m ± 1.345σ (the 95%-efficiency
    tuning constant) around the current estimate. Two fixed IRLS
    iterations from a median start (deterministic — no convergence
    loop), scale fixed at the MAD·1.4826 consistency estimate. Each
    iteration is ONE hash aggregation with the clamp inlined as column
    algebra and the previous estimate joined back as a broadcast-sized
    per-group scalar; iterations add aggregation passes, never widen
    state. Every intermediate is rounded identically on both engines, so
    the chained fixed-point arithmetic cannot drift."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.round(F.median("value"), 6).alias("m0"))
    sigma = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(
                1.4826 * F.median(F.abs(F.col("value") - F.col("m0"))), 6
            ).alias("sigma")
        )
    )
    s0 = med.join(sigma, "event_type")

    def irls_step(prev: DataFrame, prev_col: str, out_col: str) -> DataFrame:
        lo = F.col(prev_col) - 1.345 * F.col("sigma")
        hi = F.col(prev_col) + 1.345 * F.col("sigma")
        return (
            ev.join(prev, "event_type")
            .groupBy("event_type")
            .agg(
                F.round(
                    F.avg(F.greatest(F.least(F.col("value"), hi), lo)), 6
                ).alias(out_col),
            )
            .join(prev, "event_type")
        )

    it1 = irls_step(s0, "m0", "m1")
    it2 = irls_step(it1, "m1", "m2")
    return it2.select(
        "event_type",
        F.col("sigma").alias("scale_mad"),
        F.col("m1").alias("huber_step1"),
        F.col("m2").alias("huber_location"),
    )


@register(
    "steps_to_next_higher_value",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(nullif(list_position(
             list_transform(
               coalesce(list(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN 1 FOLLOWING AND 50 FOLLOWING), []),
               x -> x > value), true), 0) AS BIGINT) AS steps_to_higher
    FROM events
    """,
)
def steps_to_next_higher_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-greater-element with a bounded horizon: for every event, how
    many steps until that user next sees a STRICTLY larger value (NULL
    if not within the next 50) — the time-to-recovery / drawdown-length
    shape monitoring pipelines ask for. Inequality lookahead is not a
    plain window function; the bounded formulation collects the next-50
    frame per row and scans it with array lambdas (JVM-side), keeping
    per-row state at horizon width. The horizon is an explicit,
    documented truncation — an UNBOUNDED next-greater needs the
    monotonic-stack algorithm (per-key applyInPandas or a segment tree),
    which trades the O(rows·horizon) frame for O(rows) amortized; at a
    50-step horizon the frame variant stays in whole-stage codegen and
    shuffles once on the key, which wins until horizons grow past a few
    hundred. First match via array_position over a boolean transform —
    both engines return 0 for 'absent', nulled identically."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, 50)
    )
    nxt = F.collect_list("value").over(w)
    steps = F.array_position(
        F.transform(nxt, lambda x: x > F.col("value")), True
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.nullif(steps, F.lit(0)).alias("steps_to_higher"),
    )


@register(
    "value_peaks_per_user",
    oracle="""
    WITH w AS (
      SELECT event_id, user_id, ts, value,
             lag(value, 1)  OVER u AS p1,
             lag(value, 2)  OVER u AS p2,
             lead(value, 1) OVER u AS n1,
             lead(value, 2) OVER u AS n2
      FROM events
      WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), peaks AS (
      SELECT event_id, user_id, value,
             round(value - greatest(
               least(coalesce(p1, value), coalesce(p2, value)),
               least(coalesce(n1, value), coalesce(n2, value))), 6)
               AS prominence
      FROM w
      WHERE p1 IS NOT NULL AND n1 IS NOT NULL
        AND value > p1 AND value > n1
        AND value > coalesce(p2, value - 1)
        AND value > coalesce(n2, value - 1)
    )
    SELECT event_id, user_id, value, prominence
    FROM peaks WHERE prominence >= 10.0
    """,
)
def value_peaks_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a prominence floor — the alerting /
    signal-processing shape (find spikes that stand out from their
    neighborhood, not every wiggle): a point is a peak when strictly
    above its ±2 neighbors, and its PROMINENCE — height over the higher
    of the two valley sides — must clear a threshold, which is what
    separates real surges from noise riding a plateau. Pure lag/lead
    window algebra over the per-key order: one shuffle, state = 4
    neighbor values per row regardless of history length. Boundary rows
    (missing a ±1 neighbor) are excluded; a missing ±2 neighbor
    defaults permissive, matching scipy.signal.find_peaks' edge
    handling."""
    ev = _t(spark, sf_dir, "events")
    u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p1, p2 = F.lag("value", 1).over(u), F.lag("value", 2).over(u)
    n1, n2 = F.lead("value", 1).over(u), F.lead("value", 2).over(u)
    v = F.col("value")
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        p1.alias("p1"),
        p2.alias("p2"),
        n1.alias("n1"),
        n2.alias("n2"),
    )
    prominence = F.round(
        v
        - F.greatest(
            F.least(F.coalesce(F.col("p1"), v), F.coalesce(F.col("p2"), v)),
            F.least(F.coalesce(F.col("n1"), v), F.coalesce(F.col("n2"), v)),
        ),
        6,
    )
    return (
        w.filter(
            F.col("p1").isNotNull()
            & F.col("n1").isNotNull()
            & (v > F.col("p1"))
            & (v > F.col("n1"))
            & (v > F.coalesce(F.col("p2"), v - 1))
            & (v > F.coalesce(F.col("n2"), v - 1))
        )
        .select(
            "event_id", "user_id", "value", prominence.alias("prominence")
        )
        .filter(F.col("prominence") >= 10.0)
    )


@register(
    "max_drawdown_per_user",
    oracle="""
    WITH runs AS (
      SELECT user_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM events
    )
    SELECT user_id,
           count(*)               AS n_events,
           round(max(peak), 6)    AS peak_value,
           round(max(peak - value), 6) AS max_drawdown
    FROM runs GROUP BY user_id
    """,
)
def max_drawdown_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per key — the canonical risk/monitoring metric:
    the deepest drop from a running peak over the ordered series
    (portfolio loss-from-high, SLA worst degradation, battery deepest
    discharge). One running-max window + one hash agg; per-row state is
    a single double regardless of history length, and peak − value
    needs no rounding games (raw-double subtraction is identical
    arithmetic on both engines; only the final aggregates round)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = ev.select(
        "user_id", "value", F.max("value").over(w).alias("peak")
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("peak"), 6).alias("peak_value"),
        F.round(F.max(F.col("peak") - F.col("value")), 6).alias(
            "max_drawdown"
        ),
    )


@register(
    "weighted_median_price_per_flag",
    oracle="""
    WITH ordered AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber
                                   ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
      FROM lineitem
    )
    SELECT l_returnflag,
           count(*)                       AS n_rows,
           round(max(totw), 2)            AS total_weight,
           round(min(CASE WHEN cumw >= totw / 2
                          THEN l_extendedprice END), 2) AS weighted_median
    FROM ordered GROUP BY l_returnflag
    """,
)
def weighted_median_price_per_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED median per group — the fair-aggregation statistic Spark
    has no built-in for (a plain median of prices treats a 1-unit and a
    50-unit line identically; weighting by quantity answers 'the price
    at which half the VOLUME trades'). Formulation: order the group by
    (price, unique key), running cumulative weight, and take the first
    price whose cumulative weight crosses half the total — one
    per-group window plus a conditional-min hash agg, generalizing to
    any weighted quantile by changing the threshold. Quantities are
    integer-valued, so every cumulative sum is EXACT in doubles (no
    float-order games) and the crossing row is identical on both
    engines; running window sums are order-sequential, not
    shuffle-order-dependent, on both."""
    li = _t(spark, sf_dir, "lineitem")
    ordw = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    part = Window.partitionBy("l_returnflag")
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity")
        .over(ordw.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumw"),
        F.sum("l_quantity").over(part).alias("totw"),
    )
    return ordered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.max("totw"), 2).alias("total_weight"),
        F.round(
            F.min(
                F.when(
                    F.col("cumw") >= F.col("totw") / 2,
                    F.col("l_extendedprice"),
                )
            ),
            2,
        ).alias("weighted_median"),
    )


@register(
    "event_weekday_woe_iv",
    oracle="""
    WITH c AS (
      SELECT dayofweek(ts) AS dow,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pos,
             sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS n_neg
      FROM events GROUP BY dayofweek(ts)
    ),
    t AS (SELECT sum(n_pos) AS p_tot, sum(n_neg) AS n_tot FROM c),
    w AS (
      SELECT c.dow, c.n_pos, c.n_neg,
             ln(((c.n_pos + 0.5) / t.p_tot) / ((c.n_neg + 0.5) / t.n_tot))
               AS woe_raw,
             ((c.n_pos + 0.5) / t.p_tot - (c.n_neg + 0.5) / t.n_tot)
               * ln(((c.n_pos + 0.5) / t.p_tot) / ((c.n_neg + 0.5) / t.n_tot))
               AS ivc
      FROM c CROSS JOIN t
    )
    SELECT CAST(dow AS INTEGER) AS dow,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           round(woe_raw, 6) AS woe,
           round(ivc, 6)     AS iv_contrib,
           round(sum(ivc) OVER (), 6) AS iv_total
    FROM w
    """,
)
def event_weekday_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screening of the weekday
    feature against the purchase target — the credit-scoring-native
    companion to the chi-square and mutual-information tests above:
    WOE gives the per-bin log-odds encoding a scorecard would
    substitute for the category, IV the scalar "is this feature worth
    binning at all" verdict (rule of thumb: <0.02 useless, >0.3
    strong). +0.5 Laplace smoothing keeps empty cells finite; the whole
    computation is one 7-group aggregation plus scalar algebra, and the
    one libm call (ln) is rounded at 6 on both sides.
    """
    ev = _t(spark, sf_dir, "events")
    # DuckDB dayofweek() is 0-based (Sunday=0); Spark's is 1-based
    c = ev.groupBy((F.dayofweek("ts") - 1).alias("dow")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1)).alias("n_neg"),
    )
    t = c.agg(
        F.sum("n_pos").alias("p_tot"), F.sum("n_neg").alias("n_tot")
    )
    pos_share = (F.col("n_pos") + 0.5) / F.col("p_tot")
    neg_share = (F.col("n_neg") + 0.5) / F.col("n_tot")
    w = c.crossJoin(F.broadcast(t)).select(
        "dow", "n_pos", "n_neg",
        F.log(pos_share / neg_share).alias("woe_raw"),
        ((pos_share - neg_share) * F.log(pos_share / neg_share)).alias("ivc"),
    )
    return w.select(
        "dow", "n_pos", "n_neg",
        F.round(F.col("woe_raw"), 6).alias("woe"),
        F.round(F.col("ivc"), 6).alias("iv_contrib"),
        F.round(F.sum("ivc").over(Window.partitionBy()), 6).alias("iv_total"),
    )


@register(
    "next_higher_event_unbounded",
    oracle="""
    WITH o AS MATERIALIZED (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT a.event_id, b.event_id AS nid,
             b.rn - a.rn AS steps,
             row_number() OVER (PARTITION BY a.event_id ORDER BY b.rn) AS r
      FROM o a JOIN o b ON a.user_id = b.user_id
                       AND b.rn > a.rn AND b.value > a.value
    )
    SELECT o.event_id, o.user_id, o.value,
           p.nid                    AS next_id,
           CAST(p.steps AS BIGINT)  AS steps_ahead
    FROM o LEFT JOIN (SELECT * FROM p WHERE r = 1) p
      ON o.event_id = p.event_id
    """,
)
def next_higher_event_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED next-greater-element per user — the monotonic-stack
    escape hatch the bounded ``steps_to_next_higher_value`` docstring
    promises: O(rows) amortized per key via one ``applyInPandas`` pass
    (each row pushed/popped once), where the frame-collect variant
    would pay O(rows x history) and the oracle's formulation is the
    honest O(n^2) join. Returns, per event, the id of the next strictly
    larger value for the same user and how many events ahead it sits
    (null if the value is never exceeded). One shuffle on user_id; the
    Python stage is Arrow-batched with a vectorized sort and a plain
    index stack — the one shape where a Python path genuinely beats
    the in-plan alternative."""
    from ..operators.windows import next_greater_unbounded

    ev = _t(spark, sf_dir, "events")
    return next_greater_unbounded(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", id_col="event_id",
    )


@register(
    "value_quantile_normalize_by_type",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type, value,
             CAST(ntile(100) OVER (PARTITION BY event_type
                                   ORDER BY value, event_id) AS INTEGER) AS q
      FROM events
    ),
    bm AS (
      SELECT event_type, q, avg(value) AS m FROM r GROUP BY event_type, q
    ),
    t AS (SELECT q, round(avg(m), 6) AS norm_value FROM bm GROUP BY q)
    SELECT r.event_id, r.event_type, r.value, r.q, t.norm_value
    FROM r JOIN t ON r.q = t.q
    """,
)
def value_quantile_normalize_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across event types — the bioinformatics /
    batch-effect-removal standard: rank every value within its type into
    100 quantile bins, then replace it with the CROSS-type mean of that
    bin, so all five per-type distributions become identical while
    preserving within-type order. Catches the case z-scoring misses
    (shape differences, not just location/scale).

    Plan shape: one window (ntile) per type partition, a (type, bin)
    aggregation, a 100-row bin-target table broadcast back onto the
    rows. Deterministic: the ntile ordering key (value, event_id) is
    unique, bin targets are rounded before the join-back, and the bin
    count is fixed — no per-row float decision anywhere.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    r = ev.select(
        "event_id", "event_type", "value",
        F.ntile(100).over(w).alias("q"),
    )
    bm = r.groupBy("event_type", "q").agg(F.avg("value").alias("m"))
    t = bm.groupBy("q").agg(F.round(F.avg("m"), 6).alias("norm_value"))
    return r.join(F.broadcast(t), on="q").select(
        "event_id", "event_type", "value", "q", "norm_value"
    )


@register(
    "sprt_purchase_rate_decision",
    oracle="""
    WITH s AS (
      SELECT user_id % 4 AS arm, ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    l AS (
      SELECT arm, ts, event_id, x,
             sum(x * ln(0.25 / 0.2)
                 + (1 - x) * ln(0.75 / 0.8)) OVER w AS llr,
             row_number() OVER w2 AS rn
      FROM s
      WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY arm ORDER BY ts, event_id)
    ),
    g AS (
      SELECT arm,
             count(*)                                              AS n_total,
             min(CASE WHEN llr >= ln(19.0)  THEN rn END)           AS n_h1,
             min(CASE WHEN llr <= -ln(19.0) THEN rn END)           AS n_h0,
             round(max_by(llr, rn), 6)                             AS llr_final
      FROM l GROUP BY arm
    )
    SELECT CAST(arm AS BIGINT) AS arm, n_total,
           CASE
             WHEN n_h1 IS NOT NULL AND (n_h0 IS NULL OR n_h1 < n_h0)
               THEN 'accept_h1'
             WHEN n_h0 IS NOT NULL THEN 'accept_h0'
             ELSE 'continue'
           END AS decision,
           CASE
             WHEN n_h1 IS NOT NULL AND (n_h0 IS NULL OR n_h1 < n_h0) THEN n_h1
             WHEN n_h0 IS NOT NULL THEN n_h0
           END AS n_at_decision,
           llr_final
    FROM g
    """,
)
def sprt_purchase_rate_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the event stream:
    four experiment arms (user_id % 4) each accumulate the
    log-likelihood ratio of H1: P(purchase)=0.25 vs H0: 0.2 in event
    order, and the arm DECIDES at the first boundary crossing
    (alpha = beta = 0.05 -> +-ln 19) — the sequential design that stops
    ~half as late as a fixed-horizon test at the same error rates.

    Determinism: the LLR running sum is a frame-ordered sequential
    accumulation (bit-identical cross-engine), the crossing is a plain
    comparison against +-ln 19, and the first-crossing index is an
    integer min. Per-arm sequential order is intrinsic to SPRT, so the
    window partitions by arm — parallelism across arms/experiments, not
    within one arm's timeline.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        (F.col("user_id") % 4).alias("arm"), "ts", "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    w = (
        Window.partitionBy("arm").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2 = Window.partitionBy("arm").orderBy("ts", "event_id")
    inc = F.col("x") * F.log(F.lit(0.25 / 0.2)) + (1 - F.col("x")) * F.log(
        F.lit(0.75 / 0.8)
    )
    bound = F.log(F.lit(19.0))
    l = s.select(
        "arm",
        F.sum(inc).over(w).alias("llr"),
        F.row_number().over(w2).alias("rn"),
    )
    g = l.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.min(F.when(F.col("llr") >= bound, F.col("rn"))).alias("n_h1"),
        F.min(F.when(F.col("llr") <= -bound, F.col("rn"))).alias("n_h0"),
        F.round(F.max_by(F.col("llr"), F.col("rn")), 6).alias("llr_final"),
    )
    h1_first = F.col("n_h1").isNotNull() & (
        F.col("n_h0").isNull() | (F.col("n_h1") < F.col("n_h0"))
    )
    return g.select(
        "arm", "n_total",
        F.when(h1_first, F.lit("accept_h1"))
        .when(F.col("n_h0").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.when(h1_first, F.col("n_h1"))
        .when(F.col("n_h0").isNotNull(), F.col("n_h0"))
        .cast("long")
        .alias("n_at_decision"),
        "llr_final",
    )


@register(
    "eb_shrunken_purchase_rates",
    oracle="""
    WITH u AS (
      SELECT user_id,
             count(*) AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT round(avg(1.0 * k / n), 9)     AS mu,
             round(var_pop(1.0 * k / n), 9) AS v
      FROM u
    ),
    p AS (
      SELECT mu, v, mu * (1 - mu) / v - 1 AS common FROM m
    )
    SELECT u.user_id, CAST(u.n AS BIGINT) AS n, CAST(u.k AS BIGINT) AS k,
           round(1.0 * u.k / u.n, 6) AS raw_rate,
           round((u.k + p.mu * p.common)
                 / (u.n + p.common), 6)   AS shrunk_rate
    FROM u CROSS JOIN p
    """,
)
def eb_shrunken_purchase_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-user purchase
    rates: fit the Beta prior by method of moments from the observed
    rate distribution, then pull every user's raw k/n toward the prior
    mean in proportion to how little data they have — the standard fix
    for "this user is 1-for-1, so their rate is 100%" leaderboard junk.

    alpha + beta = mu(1-mu)/v - 1 and alpha = mu * that; the posterior
    mean is (k + alpha)/(n + alpha + beta). Cross-engine: mu and v are
    rounded to 9 before the prior algebra, so both engines derive
    bit-identical hyperparameters and the per-user arithmetic is pure
    IEEE scalar math. One hash aggregation + one broadcast scalar
    join — the prior fit costs two rounded moments.
    """
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    rate = F.col("k") * 1.0 / F.col("n")
    m = u.agg(
        F.round(F.avg(rate), 9).alias("mu"),
        F.round(F.var_pop(rate), 9).alias("v"),
    )
    p = m.select(
        "mu", "v", (F.col("mu") * (1 - F.col("mu")) / F.col("v") - 1).alias("common")
    )
    return u.crossJoin(F.broadcast(p)).select(
        "user_id", "n", "k",
        F.round(rate, 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("mu") * F.col("common"))
            / (F.col("n") + F.col("common")),
            6,
        ).alias("shrunk_rate"),
    )


@register(
    "rolling_trend_per_user",
    oracle="""
    WITH o AS (
      SELECT event_id, user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    f AS (
      SELECT event_id, user_id, rn,
             count(*)             OVER w AS n,
             sum(rn)              OVER w AS sx,
             sum(rn * rn)         OVER w AS sxx,
             sum(value)           OVER w AS sy,
             sum(rn * value)      OVER w AS sxy
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, CAST(rn AS BIGINT) AS rn,
           CASE WHEN n >= 5 THEN
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope
    FROM f
    """,
)
def rolling_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope of value against event index over each user's
    last 20 events — the "is this sensor drifting NOW" monitor, where
    the global Theil-Sen / OLS trends answer "did it drift EVER".
    Implemented as sufficient statistics IN the window frame (five
    sliding sums, no per-row refit): slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2). The x side is the integer row index, so Sx/Sxx are
    exact; the denominator is integer algebra and cannot cancel to
    noise; the one float division rounds at 6 (frame sums differ only
    by summation-tree order, ~1e-15). Null until 5 points accumulate.
    One shuffle on user_id serves the index window and the frame.
    """
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_id", "user_id", "value", F.row_number().over(wo).alias("rn")
    )
    wf = Window.partitionBy("user_id").orderBy("rn").rowsBetween(-19, 0)
    f = o.select(
        "event_id", "user_id", o["rn"].cast("long").alias("rn"),
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("rn").over(wf).alias("sx"),
        F.sum(F.col("rn") * F.col("rn")).over(wf).alias("sxx"),
        F.sum("value").over(wf).alias("sy"),
        F.sum(F.col("rn") * F.col("value")).over(wf).alias("sxy"),
    )
    return f.select(
        "event_id", "user_id", "rn",
        F.when(
            F.col("n") >= 5,
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ),
        ).alias("slope"),
    )


@register(
    "purchase_decision_stump",
    oracle="""
    WITH e AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             ntile(10) OVER (ORDER BY value, event_id) AS decile
      FROM events
    ),
    thr AS (
      SELECT max(value) AS threshold FROM e WHERE decile <= 9 GROUP BY decile
    ),
    split AS (
      SELECT t.threshold,
             sum(CASE WHEN e.value <= t.threshold THEN 1 ELSE 0 END) AS n_left,
             sum(CASE WHEN e.value <= t.threshold THEN e.y ELSE 0 END) AS pos_left,
             sum(CASE WHEN e.value >  t.threshold THEN 1 ELSE 0 END) AS n_right,
             sum(CASE WHEN e.value >  t.threshold THEN e.y ELSE 0 END) AS pos_right,
             count(*) AS n, sum(e.y) AS pos
      FROM thr t CROSS JOIN e
      GROUP BY t.threshold
    ),
    g AS (
      SELECT threshold,
             CAST(n_left AS BIGINT)  AS n_left,
             CAST(pos_left AS BIGINT)  AS pos_left,
             CAST(n_right AS BIGINT) AS n_right,
             CAST(pos_right AS BIGINT) AS pos_right,
             round(
               2.0 * pos / n * (1 - 1.0 * pos / n)
               - (1.0 * n_left / n)
                 * (2.0 * pos_left / n_left * (1 - 1.0 * pos_left / n_left))
               - (1.0 * n_right / n)
                 * (2.0 * pos_right / n_right * (1 - 1.0 * pos_right / n_right)),
               6) AS gini_gain
      FROM split WHERE n_left > 0 AND n_right > 0
    )
    SELECT *,
           (row_number() OVER (ORDER BY gini_gain DESC, threshold) = 1)
             AS is_best
    FROM g
    """,
)
def purchase_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split decision stump for 'is this a purchase' on the
    value feature: candidate thresholds are the nine exact decile
    boundaries, each scored by Gini impurity reduction — the inner loop
    of every tree learner, exposed as one declarative query (a tree
    induction pass is just this, iterated per node and feature).

    Plan shape: ONE pass computes the decile boundaries (window over a
    unique ordering), then a 9-row broadcast cross join against the
    events scores all candidate splits in a single aggregation — the
    histogram-split trick XGBoost/LightGBM use, not 9 re-scans. Gini
    algebra runs on exact integer counts; the gain rounds at 6 and the
    argmax tie-breaks on the threshold, so `is_best` is deterministic.
    """
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.ntile(10).over(Window.orderBy("value", "event_id")).alias("decile"),
    )
    thr = (
        e.where(F.col("decile") <= 9)
        .groupBy("decile")
        .agg(F.max("value").alias("threshold"))
        .drop("decile")
    )
    split = (
        e.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("threshold"), 1).otherwise(0)).alias("n_left"),
            F.sum(F.when(F.col("value") <= F.col("threshold"), F.col("y")).otherwise(0)).alias("pos_left"),
            F.sum(F.when(F.col("value") > F.col("threshold"), 1).otherwise(0)).alias("n_right"),
            F.sum(F.when(F.col("value") > F.col("threshold"), F.col("y")).otherwise(0)).alias("pos_right"),
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
        )
    )
    p = F.col("pos") * 1.0 / F.col("n")
    pl = F.col("pos_left") * 1.0 / F.col("n_left")
    pr = F.col("pos_right") * 1.0 / F.col("n_right")
    g = split.where((F.col("n_left") > 0) & (F.col("n_right") > 0)).select(
        "threshold", "n_left", "pos_left", "n_right", "pos_right",
        F.round(
            2.0 * p * (1 - p)
            - (F.col("n_left") * 1.0 / F.col("n")) * (2.0 * pl * (1 - pl))
            - (F.col("n_right") * 1.0 / F.col("n")) * (2.0 * pr * (1 - pr)),
            6,
        ).alias("gini_gain"),
    )
    wb = Window.orderBy(F.col("gini_gain").desc(), F.col("threshold"))
    return g.select("*", (F.row_number().over(wb) == 1).alias("is_best"))


@register(
    "sensor_uptime_report",
    oracle="""
    WITH h AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM events
    ),
    g AS (
      SELECT user_id, hour,
             lag(hour) OVER (PARTITION BY user_id ORDER BY hour) AS prev_hour
      FROM h
    )
    SELECT user_id,
           cast(count(*) AS BIGINT) AS observed_hours,
           cast(date_diff('hour', min(hour), max(hour)) + 1 AS BIGINT)
             AS expected_hours,
           round(count(*) * 1.0
                 / (date_diff('hour', min(hour), max(hour)) + 1), 6)
             AS uptime_pct,
           cast(max(CASE WHEN prev_hour IS NOT NULL
                    THEN date_diff('hour', prev_hour, hour) - 1 END) AS BIGINT)
             AS longest_gap_hours
    FROM g GROUP BY user_id
    """,
)
def sensor_uptime_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensor completeness audit — the observability question a fleet
    operator asks before trusting any aggregate: per sensor, how many
    hours reported vs. the span between its first and last report, and
    the longest silent stretch. Distinct hours via one hash agg, gaps
    via a lag window over the (bounded) per-sensor hour list; hour
    arithmetic is exact integers on both engines.
    """
    ev = _t(spark, sf_dir, "events")
    h = ev.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("hour")
    g = h.withColumn("prev_hour", F.lag("hour").over(w))
    span_hours = (
        (F.unix_timestamp(F.max("hour")) - F.unix_timestamp(F.min("hour"))) / 3600
    ).cast("long") + 1
    gap = (
        (F.unix_timestamp(F.col("hour")) - F.unix_timestamp(F.col("prev_hour"))) / 3600
    ).cast("long") - 1
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("observed_hours"),
        span_hours.alias("expected_hours"),
        F.round(F.count(F.lit(1)) * 1.0 / span_hours, 6).alias("uptime_pct"),
        F.max(F.when(F.col("prev_hour").isNotNull(), gap)).alias("longest_gap_hours"),
    )


@register(
    "user_rank_stability_rbo",
    oracle="""
    WITH b AS (
      SELECT (CAST(min(epoch(ts)) AS BIGINT)
              + CAST(max(epoch(ts)) AS BIGINT)) // 2 AS mid
      FROM events
    ),
    ha AS (
      SELECT user_id, count(*) AS c FROM events, b
      WHERE CAST(epoch(ts) AS BIGINT) <= b.mid GROUP BY user_id
    ),
    hb AS (
      SELECT user_id, count(*) AS c FROM events, b
      WHERE CAST(epoch(ts) AS BIGINT) > b.mid GROUP BY user_id
    ),
    ra AS (SELECT user_id,
                  row_number() OVER (ORDER BY c DESC, user_id) AS r
           FROM ha),
    rb AS (SELECT user_id,
                  row_number() OVER (ORDER BY c DESC, user_id) AS r
           FROM hb),
    pairs AS (
      SELECT ra.r AS r1, rb.r AS r2
      FROM ra JOIN rb ON ra.user_id = rb.user_id
    ),
    k AS (SELECT unnest(range(1, 51)) AS k),
    ov AS (
      SELECT k.k,
             count(*) FILTER (WHERE p.r1 <= k.k AND p.r2 <= k.k) AS o
      FROM k CROSS JOIN pairs p GROUP BY k.k
    )
    SELECT round(0.1 * sum(pow(0.9, k - 1) * o / k), 6) AS rbo_50,
           cast(max(CASE WHEN k = 10 THEN o END) AS BIGINT) AS overlap_10,
           cast(max(CASE WHEN k = 50 THEN o END) AS BIGINT) AS overlap_50
    FROM ov
    """,
)
def user_rank_stability_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between the most-active-user
    leaderboards of the first and second time halves, truncated at depth
    50 with persistence p = 0.9 — the ranking-stability metric that,
    unlike Kendall/Spearman, weights the TOP of the list and tolerates
    non-conjoint lists (users absent from one half simply never match).
    The companion to the NDCG/tau evaluators already shipped: those
    score against relevance, RBO compares two rankings to each other
    (leaderboard churn, index rebuild drift, A/B ranker diffs).

    Determinism: rankings order by integer event counts (never float
    sums) with user-id tie-breaks; the time midpoint is integer epoch
    arithmetic; the single float reduction (geometric weights) rounds
    at 6. Plan: two filtered aggs, two dimension-sized windows, one
    50 x |conjoint| conditional count — fact scanned twice, nothing
    else grows with data.
    """
    ev = _t(spark, sf_dir, "events")
    b = ev.agg(
        (
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts")))
            / F.lit(2)
        ).cast("long").alias("mid")
    )
    withmid = ev.crossJoin(F.broadcast(b))
    def ranked(pred):
        h = withmid.where(pred).groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
        return h.select(
            "user_id",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "user_id")).alias("r"),
        )
    ra = ranked(F.unix_timestamp("ts") <= F.col("mid"))
    rb = ranked(F.unix_timestamp("ts") > F.col("mid"))
    pairs = ra.join(rb, "user_id").select(
        ra["r"].alias("r1"), rb["r"].alias("r2")
    )
    k = ev.sparkSession.range(1, 51).select(F.col("id").alias("k"))
    ov = (
        k.crossJoin(pairs)
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("r1") <= F.col("k")) & (F.col("r2") <= F.col("k")), 1)
                .otherwise(0)
            ).alias("o")
        )
    )
    return ov.agg(
        F.round(0.1 * F.sum(F.pow(F.lit(0.9), F.col("k") - 1) * F.col("o") / F.col("k")), 6).alias("rbo_50"),
        F.max(F.when(F.col("k") == 10, F.col("o"))).cast("long").alias("overlap_10"),
        F.max(F.when(F.col("k") == 50, F.col("o"))).cast("long").alias("overlap_50"),
    )


_ISLANDS_CTE = """
    iv AS (
      SELECT user_id,
             epoch(ts) - 1800 AS lo,
             epoch(ts) + 1800 AS hi
      FROM events
    ),
    m AS (
      SELECT user_id, lo, hi,
             max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_hi
      FROM iv
    ),
    g AS (
      SELECT user_id, lo, hi,
             sum(CASE WHEN prev_max_hi IS NULL OR lo > prev_max_hi
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY lo, hi
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ),
    isl AS (
      SELECT user_id, island,
             min(lo) AS lo, max(hi) AS hi
      FROM g GROUP BY user_id, island
    )
"""


@register(
    "peak_concurrent_sessions",
    oracle=f"""
    WITH {_ISLANDS_CTE},
    ev AS (
      SELECT lo AS t, 1 AS delta, user_id, island FROM isl
      UNION ALL
      SELECT hi AS t, -1 AS delta, user_id, island FROM isl
    ),
    sweep AS (
      SELECT t, delta,
             sum(delta) OVER (ORDER BY t, delta, user_id, island
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM ev
    ),
    peak AS (SELECT max(live) AS peak FROM sweep)
    SELECT cast(peak.peak AS BIGINT)                          AS peak_concurrency,
           cast(floor((SELECT min(t) FROM sweep
                       WHERE live = peak.peak)) AS BIGINT)    AS t_at_peak,
           (SELECT cast(count(*) AS BIGINT) FROM isl)         AS n_sessions
    FROM peak
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum simultaneous activity — the capacity-planning number: how
    many users' activity islands (the coalesced ±30-min intervals above)
    overlap at the busiest instant, and when that instant first occurs.
    The sweep-line classic: every island emits +1 at start / -1 at end,
    one ordered running sum, take the max. Session ENDS sort before
    session STARTS at the same timestamp (delta ascending), so touching
    intervals do not double-count — the standard convention, made
    explicit and deterministic with the full (t, delta, user, island)
    ordering.

    Scale note: the sweep runs over SESSION endpoints (two rows per
    island — orders of magnitude below event volume) in one global
    ordering; at extreme session counts the same algebra shards by
    coarse time range with per-shard offsets (documented, not needed at
    any plausible session cardinality).
    """
    ev = _t(spark, sf_dir, "events")
    half = 1800
    sec = F.col("ts").cast("double")
    es = ev.select(
        "user_id",
        (sec - half).alias("lo"),
        (sec + half).alias("hi"),
    )
    wm = (
        Window.partitionBy("user_id").orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wg = (
        Window.partitionBy("user_id").orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        es.withColumn("prev_max_hi", F.max("hi").over(wm))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_max_hi").isNull()
                    | (F.col("lo") > F.col("prev_max_hi")),
                    1,
                ).otherwise(0)
            ).over(wg),
        )
    )
    isl = g.groupBy("user_id", "island").agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi")
    )
    deltas = isl.select(
        F.col("lo").alias("t"), F.lit(1).alias("delta"), "user_id", "island"
    ).unionByName(
        isl.select(F.col("hi").alias("t"), F.lit(-1).alias("delta"), "user_id", "island")
    )
    ws = (
        Window.orderBy("t", "delta", "user_id", "island")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = deltas.withColumn("live", F.sum("delta").over(ws))
    peak = sweep.agg(F.max("live").alias("peak"))
    at = (
        sweep.join(F.broadcast(peak), sweep["live"] == peak["peak"])
        .agg(F.floor(F.min("t")).cast("long").alias("t_at_peak"))
    )
    n = isl.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        peak.select(F.col("peak").cast("long").alias("peak_concurrency"))
        .crossJoin(F.broadcast(at))
        .crossJoin(F.broadcast(n))
    )


@register(
    "activity_islands_by_day",
    oracle=f"""
    WITH {_ISLANDS_CTE},
    days AS (
      SELECT user_id, island, lo, hi,
             unnest(range(CAST(floor(lo / 86400) AS BIGINT),
                          CAST(floor(hi / 86400) AS BIGINT) + 1)) AS day_idx
      FROM isl
    )
    SELECT user_id, cast(island AS BIGINT) AS island,
           cast(day_idx AS BIGINT)         AS epoch_day,
           round(least(hi, (day_idx + 1) * 86400.0)
                 - greatest(lo, day_idx * 86400.0), 3) AS overlap_s
    FROM days
    WHERE least(hi, (day_idx + 1) * 86400.0)
          > greatest(lo, day_idx * 86400.0)
    """,
)
def activity_islands_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-to-calendar alignment: split every activity island
    across the UTC days it spans and report seconds of overlap per day
    — the proration step behind billing-by-day, SLA-per-day, and
    bitemporal calendar joins, where a naive GROUP BY day silently
    assigns a midnight-crossing interval to one day only.

    Plan shape: islands from the per-key window chain, then a bounded
    explode (one row per covered day — the span, not the event count)
    and pure integer interval algebra; empty-intersection guard keeps
    touching-at-midnight intervals out of the wrong day. Everything is
    exact epoch-second integers.
    """
    ev = _t(spark, sf_dir, "events")
    half = 1800
    sec = F.col("ts").cast("double")
    es = ev.select(
        "user_id",
        (sec - half).alias("lo"),
        (sec + half).alias("hi"),
    )
    wm = (
        Window.partitionBy("user_id").orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wg = (
        Window.partitionBy("user_id").orderBy("lo", "hi")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        es.withColumn("prev_max_hi", F.max("hi").over(wm))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_max_hi").isNull()
                    | (F.col("lo") > F.col("prev_max_hi")),
                    1,
                ).otherwise(0)
            ).over(wg),
        )
    )
    isl = g.groupBy("user_id", "island").agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi")
    )
    day = F.col("day_idx")
    day_lo = day * 86400
    day_hi = (day + 1) * 86400
    overlap = F.least(F.col("hi"), day_hi) - F.greatest(F.col("lo"), day_lo)
    return (
        isl.select(
            "user_id", "island", "lo", "hi",
            F.explode(
                F.sequence(
                    F.floor(F.col("lo") / 86400).cast("long"),
                    F.floor(F.col("hi") / 86400).cast("long"),
                )
            ).alias("day_idx"),
        )
        .where(overlap > 0)
        .select(
            "user_id",
            F.col("island").cast("long").alias("island"),
            day.cast("long").alias("epoch_day"),
            F.round(overlap, 3).alias("overlap_s"),
        )
    )


@register(
    "weekly_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
      FROM events
    ),
    gmax AS (SELECT max(wk) AS gw FROM uw),
    seq AS (
      SELECT user_id, wk,
             lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             min(wk)  OVER (PARTITION BY user_id)             AS first_wk,
             max(wk)  OVER (PARTITION BY user_id)             AS last_wk
      FROM uw
    ),
    states AS (
      SELECT wk,
             CASE WHEN wk = first_wk                 THEN 'new'
                  WHEN wk = prev_wk + 1              THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM seq
      UNION ALL
      SELECT prev_wk + 1 AS wk, 'churned' AS state
      FROM seq WHERE prev_wk IS NOT NULL AND wk > prev_wk + 1
      UNION ALL
      SELECT s.last_wk + 1 AS wk, 'churned' AS state
      FROM (SELECT DISTINCT user_id, last_wk FROM seq) s
      CROSS JOIN gmax WHERE s.last_wk < gmax.gw
    )
    SELECT wk,
           cast(sum(CASE WHEN state = 'new'         THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           cast(sum(CASE WHEN state = 'retained'    THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           cast(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           cast(sum(CASE WHEN state = 'churned'     THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
    FROM states GROUP BY wk
    """,
)
def weekly_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the product-analytics ledger that cohort
    retention curves do not give you: every week, how many active users
    are NEW (first week ever), RETAINED (also active last week),
    RESURRECTED (returning after a gap), and how many CHURNED (active
    last week, silent this week — attributed to the week the silence
    starts, including users who go quiet before the observation end).
    The identity actives(w) = new + retained + resurrected holds by
    construction and is pinned in tests.

    Plan shape: one distinct (user, week) aggregation, one per-user lag
    window, then pure integer week arithmetic (UTC epoch weeks — no
    calendar parsing, so +1 is literally +1). Event volume collapses at
    the first distinct; everything after is user x active-week scale.
    """
    ev = _t(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("double") / 604800).cast("long").alias("wk"),
    ).distinct()
    w = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("wk")
    seq = uw.select(
        "user_id", "wk",
        F.lag("wk").over(wo).alias("prev_wk"),
        F.min("wk").over(w).alias("first_wk"),
        F.max("wk").over(w).alias("last_wk"),
    )
    active_states = seq.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("wk") == F.col("prev_wk") + 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    gap_churn = seq.where(
        F.col("prev_wk").isNotNull() & (F.col("wk") > F.col("prev_wk") + 1)
    ).select((F.col("prev_wk") + 1).alias("wk"), F.lit("churned").alias("state"))
    gmax = uw.agg(F.max("wk").alias("gw"))
    tail_churn = (
        seq.select("user_id", "last_wk").distinct()
        .crossJoin(F.broadcast(gmax))
        .where(F.col("last_wk") < F.col("gw"))
        .select((F.col("last_wk") + 1).alias("wk"), F.lit("churned").alias("state"))
    )
    states = active_states.unionByName(gap_churn).unionByName(tail_churn)
    return states.groupBy("wk").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0)).alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0)).alias("n_resurrected"),
        F.sum(F.when(F.col("state") == "churned", 1).otherwise(0)).alias("n_churned"),
    )


@register(
    "hourly_lead_lag_correlation",
    oracle="""
    WITH a AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             round(avg(value), 6) AS x
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    b AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             round(avg(value), 6) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    j AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN a ON TRUE
      JOIN b ON b.h = a.h + l.lag
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           cast(count(*) AS BIGINT) AS n_hours,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (sqrt(count(*) * sum(x * x) - sum(x) * sum(x))
                    * sqrt(count(*) * sum(y * y) - sum(y) * sum(y))), 6)
             AS pearson_r
    FROM j GROUP BY lag
    """,
)
def hourly_lead_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the hourly click-value and
    purchase-value series at lags -3..+3 hours — the lead-lag discovery
    tool (does engagement LEAD conversion, and by how much?) that a
    single same-hour correlation cannot answer. Both series are
    pre-rounded hourly means; each lag is an integer-offset equi-join,
    and Pearson r comes from one sufficient-stats aggregation per lag.
    The 7-row lag table broadcasts; the series tables are hour-grain
    (bounded by the time span, not event volume).
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.floor(F.col("ts").cast("double") / 3600).cast("long")

    def series(et: str, alias: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == et)
            .groupBy(hour.alias("h"))
            .agg(F.round(F.avg("value"), 6).alias(alias))
        )

    a = series("click", "x")
    b = series("purchase", "y")
    lags = ev.sparkSession.range(-3, 4).select(F.col("id").alias("lag"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, b["h"] == a["h"] + F.col("lag"))
        .select("lag", "x", "y")
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = F.sqrt(n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")) * F.sqrt(
        n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y")
    )
    return j.groupBy("lag").agg(
        n.alias("n_hours"),
        F.round(num / den, 6).alias("pearson_r"),
    )


@register(
    "shapley_channel_attribution",
    oracle="""
    WITH fp AS (
      SELECT user_id, min(epoch(ts)) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    expo AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'click'  THEN 1 ELSE 0 END)
             + 2 * max(CASE WHEN e.event_type = 'view'   THEN 1 ELSE 0 END)
             + 4 * max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
             + 8 * max(CASE WHEN e.event_type = 'error'  THEN 1 ELSE 0 END)
               AS s,
             max(CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END) AS conv
      FROM events e
      LEFT JOIN fp ON e.user_id = fp.user_id
      WHERE fp.user_id IS NULL OR epoch(e.ts) < fp.first_purchase
      GROUP BY e.user_id
    ),
    obs AS (
      SELECT s, count(*) AS n_users, sum(conv) AS n_conv
      FROM expo GROUP BY s
    ),
    v AS (
      SELECT r.s,
             coalesce(1.0 * obs.n_conv / obs.n_users, 0.0) AS v
      FROM (SELECT unnest(range(0, 16)) AS s) r
      LEFT JOIN obs ON obs.s = r.s
    ),
    ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
                                 ('signup', 4), ('error', 8))
           AS t(channel, bit)),
    terms AS (
      SELECT ch.channel,
             CASE bit_count(CAST(s.s AS BIGINT))
                  WHEN 0 THEN 0.25 WHEN 1 THEN 2.0 / 24
                  WHEN 2 THEN 2.0 / 24 WHEN 3 THEN 0.25 END
               * (su.v - s.v) AS term
      FROM ch
      JOIN v s  ON (s.s // ch.bit) % 2 = 0
      JOIN v su ON su.s = s.s + ch.bit
    )
    SELECT channel, round(sum(term), 6) AS shapley_credit
    FROM terms GROUP BY channel
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution of conversion to the four
    non-purchase channels — the game-theoretic answer to "which
    touchpoints cause purchases" that last-touch and decay heuristics
    approximate. Each user's pre-conversion exposure set becomes a
    4-bit coalition id (one aggregation with bit weights — no set
    strings, no explode); the 16-row coalition-value table v(S) =
    P(conv | exposed exactly S) is completed over all subsets
    (unobserved coalitions contribute 0, the standard convention); and
    each channel's credit is the Shapley sum of |S|-weighted marginal
    contributions v(S u {i}) - v(S) — 8 exact terms per channel,
    evaluated as joins over the 16-row relation. With k channels this
    is 2^k coalition rows: exact Shapley is feasible to k ~ 20 on this
    plan shape before sampling is needed (the docstring contract a
    Shapley-sampling variant would extend).

    Determinism: coalition ids and counts are integers; v is an exact
    integer division; the single float reduction rounds at 6.
    """
    ev = _t(spark, sf_dir, "events")
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("double")).alias("first_purchase"))
    )
    e = ev.join(F.broadcast(fp), "user_id", "left").where(
        F.col("first_purchase").isNull()
        | (F.col("ts").cast("double") < F.col("first_purchase"))
    )
    bit = lambda t, b: b * F.max(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    )
    expo = e.groupBy("user_id").agg(
        (
            bit("click", 1) + bit("view", 2) + bit("signup", 4) + bit("error", 8)
        ).alias("s"),
        F.max(
            F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0)
        ).alias("conv"),
    )
    obs = expo.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("conv").alias("n_conv")
    )
    allsets = ev.sparkSession.range(16).select(F.col("id").cast("int").alias("s"))
    v = allsets.join(F.broadcast(obs), "s", "left").select(
        "s",
        F.coalesce(F.col("n_conv") * 1.0 / F.col("n_users"), F.lit(0.0)).alias("v"),
    )
    ch = ev.sparkSession.createDataFrame(
        [("click", 1), ("view", 2), ("signup", 4), ("error", 8)],
        "channel string, bit int",
    )
    s_side = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    su_side = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    weight = (
        F.when(F.bit_count(F.col("s0")) == 0, F.lit(0.25))
        .when(F.bit_count(F.col("s0")) == 1, F.lit(2.0 / 24))
        .when(F.bit_count(F.col("s0")) == 2, F.lit(2.0 / 24))
        .otherwise(F.lit(0.25))
    )
    terms = (
        ch.crossJoin(s_side)
        .where((F.floor(F.col("s0") / F.col("bit")) % 2) == 0)
        .join(su_side, F.col("s1") == F.col("s0") + F.col("bit"))
        .select("channel", (weight * (F.col("v1") - F.col("v0"))).alias("term"))
    )
    return terms.groupBy("channel").agg(
        F.round(F.sum("term"), 6).alias("shapley_credit")
    )


@register(
    "part_population_capture_recapture",
    oracle="""
    WITH s1 AS (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_orderkey % 2 = 0
    ),
    s2 AS (
      SELECT DISTINCT l_partkey FROM lineitem WHERE l_orderkey % 2 = 1
    ),
    m AS (SELECT count(*) AS m FROM s1 JOIN s2 USING (l_partkey)),
    c AS (
      SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             m.m AS m,
             (SELECT count(DISTINCT l_partkey) FROM lineitem) AS n_true
      FROM m
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(m AS BIGINT) AS m, CAST(n_true AS BIGINT) AS n_true,
           round(1.0 * (n1 + 1) * (n2 + 1) / (m + 1) - 1, 3) AS n_hat_chapman
    FROM c
    """,
)
def part_population_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat even- and odd-order purchases as two
    independent 'sightings' of the part catalog and estimate the TOTAL
    distinct-part population from the overlap — the estimator ecology
    uses for animal counts and data teams use for "how many distinct
    entities exist beyond what either feed saw" (catalog coverage, bot
    population, leaked-record estimation). The known true count rides
    along as the audit column; on this data the two samples are large
    so the estimate lands within a few parts of truth.

    Plan shape: two distinct-aggregations, one semi-join overlap count,
    all partial-aggregated; integer algebra until the one rounded
    division.
    """
    li = _t(spark, sf_dir, "lineitem")
    s1 = li.where(F.col("l_orderkey") % 2 == 0).select("l_partkey").distinct()
    s2 = li.where(F.col("l_orderkey") % 2 == 1).select("l_partkey").distinct()
    # fully lazy: each count is a 1-row aggregate broadcast-joined in —
    # no job runs at plan-build time (the triangle_stats lesson)
    c1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    cm = s1.join(s2, "l_partkey").agg(F.count(F.lit(1)).alias("m"))
    ct = li.select("l_partkey").distinct().agg(F.count(F.lit(1)).alias("n_true"))
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(ct))
        .select(
            "n1", "n2", "m", "n_true",
            F.round(
                (F.col("n1") + 1) * (F.col("n2") + 1) * 1.0 / (F.col("m") + 1) - 1, 3
            ).alias("n_hat_chapman"),
        )
    )


@register(
    "rolling_percentile_rank",
    oracle="""
    WITH f AS (
      SELECT event_id, user_id, value,
             coalesce(list(value) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING), [])
               AS hist
      FROM events
    )
    SELECT event_id, user_id, value,
           CAST(len(hist) AS BIGINT) AS n_hist,
           CASE WHEN len(hist) >= 10 THEN
             round(len(list_filter(hist, x -> x < value)) * 1.0
                   / len(hist), 6)
           END AS pct_rank_vs_trailing
    FROM f
    """,
)
def rolling_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does the CURRENT reading sit in this sensor's own recent
    history? — the rolling percentile rank against the trailing 50
    observations, the nonparametric cousin of the rolling z-score (no
    normality assumption, robust to the exact heavy tails that break
    sigma-based alerts). The frame collects the trailing values and a
    JVM array lambda counts the strictly-smaller ones; null until 10
    points of history. Strict comparison on stored doubles — no
    arithmetic, so no rounding is needed before the one division.
    One shuffle on the sensor key.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    hist = F.coalesce(
        F.collect_list("value").over(w), F.array().cast("array<double>")
    )
    f = ev.select("event_id", "user_id", "value", hist.alias("hist"))
    n = F.size(F.col("hist"))
    smaller = F.size(F.filter(F.col("hist"), lambda x: x < F.col("value")))
    return f.select(
        "event_id", "user_id", "value",
        n.cast("long").alias("n_hist"),
        F.when(n >= 10, F.round(smaller * 1.0 / n, 6)).alias("pct_rank_vs_trailing"),
    )


@register(
    "wow_change_contribution",
    oracle="""
    WITH wk AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT max(wk) AS w1 FROM wk),
    cur AS (SELECT event_type, n FROM wk, mx WHERE wk = mx.w1),
    prv AS (SELECT event_type, n FROM wk, mx WHERE wk = mx.w1 - 1),
    d AS (
      SELECT coalesce(c.event_type, p.event_type) AS event_type,
             coalesce(c.n, 0) AS n_cur,
             coalesce(p.n, 0) AS n_prev,
             coalesce(c.n, 0) - coalesce(p.n, 0) AS delta
      FROM cur c FULL OUTER JOIN prv p ON c.event_type = p.event_type
    ),
    t AS (SELECT sum(delta) AS total_delta FROM d)
    SELECT d.event_type,
           CAST(n_cur AS BIGINT)  AS n_cur,
           CAST(n_prev AS BIGINT) AS n_prev,
           CAST(delta AS BIGINT)  AS delta,
           CASE WHEN t.total_delta <> 0
                THEN round(1.0 * delta / t.total_delta, 6) + 0 END
             AS share_of_change,
           CAST(row_number() OVER (ORDER BY abs(delta) DESC, d.event_type)
                AS INTEGER) AS impact_rank
    FROM d CROSS JOIN t
    """,
)
def wow_change_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week contribution analysis — the "why did the metric
    move" decomposition every on-call dashboard drill starts with:
    per segment (event type), this week's count vs last week's, the
    delta, its share of the TOTAL change (deltas are additive, so
    shares sum to 1 and can legitimately exceed ±1 when segments move
    in opposite directions), and an impact rank by |delta|. Full outer
    join keeps segments that appeared or vanished entirely. Integer
    counts throughout; the share guard avoids a 0/0 week.
    """
    ev = _t(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.floor(F.col("ts").cast("double") / 604800).cast("long").alias("wk"),
    ).agg(F.count(F.lit(1)).alias("n"))
    mx = wk.agg(F.max("wk").alias("w1"))
    wkx = wk.crossJoin(F.broadcast(mx))
    cur = wkx.where(F.col("wk") == F.col("w1")).select(
        "event_type", F.col("n").alias("n_cur")
    )
    prv = wkx.where(F.col("wk") == F.col("w1") - 1).select(
        F.col("event_type").alias("p_type"), F.col("n").alias("n_prev")
    )
    d = (
        cur.join(prv, cur["event_type"] == prv["p_type"], "full_outer")
        .select(
            F.coalesce(F.col("event_type"), F.col("p_type")).alias("event_type"),
            F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
            F.coalesce(F.col("n_prev"), F.lit(0)).alias("n_prev"),
            (
                F.coalesce(F.col("n_cur"), F.lit(0))
                - F.coalesce(F.col("n_prev"), F.lit(0))
            ).alias("delta"),
        )
    )
    t = d.agg(F.sum("delta").alias("total_delta"))
    wr = Window.orderBy(F.abs(F.col("delta")).desc(), F.col("event_type"))
    return (
        d.crossJoin(F.broadcast(t))
        .select(
            "event_type", "n_cur", "n_prev", "delta",
            F.when(
                F.col("total_delta") != 0,
                # + 0.0 canonicalizes IEEE negative zero (0/negative-total)
                F.round(F.col("delta") * 1.0 / F.col("total_delta"), 6) + 0.0,
            ).alias("share_of_change"),
            F.row_number().over(wr).alias("impact_rank"),
        )
    )


@register(
    "event_sequence_rle",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END
               AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, event_type, rn,
             sum(brk) OVER (PARTITION BY user_id ORDER BY rn
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM o
    ),
    runs AS (
      SELECT user_id, run_id, any_value(event_type) AS event_type,
             count(*) AS run_len
      FROM g GROUP BY user_id, run_id
    )
    SELECT user_id,
           cast(count(*) AS BIGINT)       AS n_runs,
           cast(sum(run_len) AS BIGINT)   AS n_events,
           cast(max(run_len) AS BIGINT)   AS longest_run,
           md5(string_agg(event_type || 'x' || run_len, ','
                          ORDER BY run_id)) AS rle_md5
    FROM runs GROUP BY user_id
    """,
)
def event_sequence_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of each user's event-type sequence — the
    session-replay compression primitive (and the 'is this sensor
    stuck' diagnostic: a longest-run spike means a value repeating far
    beyond chance). Change-points via lag, run ids via the cumulative
    break sum (the gaps-and-islands kernel the interval ops reuse),
    then one aggregation per run and one per user; the full encoding
    ships as an md5 over the ordered run string, so the gate checks
    every run boundary without hauling the sequence itself.

    IS DISTINCT FROM (null-safe) marks the first row of each user a
    break on both engines identically.
    """
    ev = _t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id", "event_type",
        F.row_number().over(wo).alias("rn"),
        F.when(
            ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0).alias("brk"),
    )
    wg = (
        Window.partitionBy("user_id").orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = o.withColumn("run_id", F.sum("brk").over(wg))
    runs = g.groupBy("user_id", "run_id").agg(
        F.any_value(F.col("event_type")).alias("event_type"),
        F.count(F.lit(1)).alias("run_len"),
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run_len").alias("n_events"),
        F.max("run_len").alias("longest_run"),
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("run_id"),
                            F.concat(
                                F.col("event_type"), F.lit("x"), F.col("run_len")
                            ).alias("tok"),
                        )
                    )
                ).cast("array<struct<run_id:bigint,tok:string>>").tok,
            )
        ).alias("rle_md5"),
    )


@register(
    "kruskal_wallis_value_by_type",
    oracle="""
    WITH vc AS (
      SELECT value, count(*) AS n_v FROM events GROUP BY value
    ),
    r AS (
      SELECT value, n_v,
             sum(n_v) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) - n_v
               + (n_v + 1) / 2.0 AS avg_rank
      FROM vc
    ),
    vt AS (
      SELECT value, event_type, count(*) AS n_vt
      FROM events GROUP BY value, event_type
    ),
    grp AS (
      SELECT vt.event_type,
             sum(vt.n_vt)              AS n_j,
             sum(vt.n_vt * r.avg_rank) AS r_j
      FROM vt JOIN r ON vt.value = r.value
      GROUP BY vt.event_type
    ),
    tot AS (
      SELECT sum(n_j) AS n,
             sum(r_j * r_j / n_j) AS s,
             (SELECT sum(CAST(n_v AS BIGINT) * n_v * n_v - n_v) FROM vc)
               AS tie_term
      FROM grp
    ),
    h AS (
      SELECT n, tie_term,
             12.0 / (n * (n + 1)) * s - 3 * (n + 1) AS h_raw
      FROM tot
    )
    SELECT g.event_type,
           CAST(g.n_j AS BIGINT)        AS n_j,
           round(g.r_j / g.n_j, 6)      AS mean_rank,
           round(h.h_raw, 6)            AS h_statistic,
           round(h.h_raw / (1 - 1.0 * h.tie_term
                 / (CAST(h.n AS BIGINT) * h.n * h.n - h.n)), 6)
             AS h_tie_corrected
    FROM grp g CROSS JOIN h
    """,
)
def kruskal_wallis_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank test: do the five event types draw their
    values from the same distribution? The k-group generalization of
    the Mann-Whitney test already shipped — rank-based, so it needs no
    normality and survives the heavy tails that invalidate ANOVA.
    Average ranks come from cumulative counts over the DISTINCT-value
    relation (ties get the exact midrank), so every rank is a multiple
    of 0.5 and the rank sums are exact in doubles — no summation-order
    wobble; the tie-corrected H divides by 1 - sum(t^3 - t)/(N^3 - N).
    Per-type mean ranks ride along (the direction readout H itself
    does not give). Two hash aggs + one dimension-sized window.
    """
    ev = _t(spark, sf_dir, "events")
    vc = ev.groupBy("value").agg(F.count(F.lit(1)).alias("n_v"))
    wv = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = vc.select(
        "value", "n_v",
        (
            F.sum("n_v").over(wv) - F.col("n_v") + (F.col("n_v") + 1) / 2.0
        ).alias("avg_rank"),
    )
    vt = ev.groupBy("value", "event_type").agg(F.count(F.lit(1)).alias("n_vt"))
    grp = (
        vt.join(r, "value")
        .groupBy("event_type")
        .agg(
            F.sum("n_vt").alias("n_j"),
            F.sum(F.col("n_vt") * F.col("avg_rank")).alias("r_j"),
        )
    )
    tie = vc.agg(
        F.sum(
            F.col("n_v").cast("long") * F.col("n_v") * F.col("n_v") - F.col("n_v")
        ).alias("tie_term")
    )
    tot = grp.agg(
        F.sum("n_j").alias("n"),
        F.sum(F.col("r_j") * F.col("r_j") / F.col("n_j")).alias("s"),
    ).crossJoin(F.broadcast(tie))
    h = tot.select(
        "n", "tie_term",
        (12.0 / (F.col("n") * (F.col("n") + 1)) * F.col("s") - 3 * (F.col("n") + 1)).alias("h_raw"),
    )
    return grp.crossJoin(F.broadcast(h)).select(
        "event_type",
        F.col("n_j").cast("long").alias("n_j"),
        F.round(F.col("r_j") / F.col("n_j"), 6).alias("mean_rank"),
        F.round(F.col("h_raw"), 6).alias("h_statistic"),
        F.round(
            F.col("h_raw")
            / (
                1
                - F.col("tie_term")
                * 1.0
                / (F.col("n").cast("long") * F.col("n") * F.col("n") - F.col("n"))
            ),
            6,
        ).alias("h_tie_corrected"),
    )


@register(
    "missing_heartbeat_report",
    oracle="""
    WITH uh AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
      FROM events
    ),
    span AS (
      SELECT user_id, min(h) AS h_lo, max(h) AS h_hi FROM uh GROUP BY user_id
    ),
    expected AS (
      SELECT user_id, unnest(range(h_lo, h_hi + 1)) AS h FROM span
    )
    SELECT e.user_id, CAST(e.h AS BIGINT) AS epoch_hour
    FROM expected e
    LEFT JOIN uh ON uh.user_id = e.user_id AND uh.h = e.h
    WHERE uh.user_id IS NULL
    """,
)
def missing_heartbeat_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH hours did each sensor go dark? — the calendar-grid
    anti-join behind every heartbeat monitor: expected (sensor, hour)
    rows are generated from each sensor's own first-to-last span (a
    bounded ``sequence`` explode — the span, not the event count), and
    observed hours are anti-joined away. The uptime report above says
    HOW MUCH was missing; this one says exactly WHEN, which is what the
    pager needs. Left-anti join shuffles on the sensor key; integer
    hour arithmetic throughout.
    """
    ev = _t(spark, sf_dir, "events")
    uh = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("double") / 3600).cast("long").alias("h"),
    ).distinct()
    span = uh.groupBy("user_id").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    expected = span.select(
        "user_id",
        F.explode(F.sequence(F.col("h_lo"), F.col("h_hi"))).alias("h"),
    )
    missing = expected.join(uh, on=["user_id", "h"], how="left_anti")
    return missing.select("user_id", F.col("h").alias("epoch_hour"))


@register(
    "seasonal_baseline_anomalies",
    oracle="""
    WITH base AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             round(avg(value), 6)        AS mu,
             round(stddev_pop(value), 6) AS sigma
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_id, e.user_id, e.value,
             CAST(floor(epoch(e.ts) / 3600) AS BIGINT) % 24 AS hod,
             round((e.value - b.mu) / b.sigma, 6) AS seasonal_z
      FROM events e
      JOIN base b ON CAST(floor(epoch(e.ts) / 3600) AS BIGINT) % 24 = b.hod
    )
    SELECT event_id, user_id, value, hod, seasonal_z
    FROM z WHERE abs(seasonal_z) > 3.0
    """,
)
def seasonal_baseline_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomalies against the SEASONAL baseline: each reading is z-scored
    against the fleet's hour-of-day profile (3 AM compares to 3 AMs,
    not to the whole day), catching the 'normal at noon, wild at
    midnight' cases a global or rolling z-score misses — and the
    complement of the rolling variant already shipped: that one models
    the sensor's own recent level, this one the diurnal cycle. The
    24-row baseline broadcasts back onto the scan; baselines are
    rounded before the division so both engines z-score identically.
    """
    ev = _t(spark, sf_dir, "events")
    hod = (F.floor(F.col("ts").cast("double") / 3600).cast("long") % 24).alias("hod")
    base = ev.groupBy(hod).agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    z = (
        ev.select("event_id", "user_id", "value", hod)
        .join(F.broadcast(base), "hod")
        .select(
            "event_id", "user_id", "value", "hod",
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias(
                "seasonal_z"
            ),
        )
    )
    return z.where(F.abs(F.col("seasonal_z")) > 3.0)


@register(
    "partition_compaction_plan",
    oracle="""
    WITH p AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(40 + length(coalesce(event_type, ''))
                    + length(coalesce(props, ''))) AS est_bytes
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT day, est_bytes,
             CAST(floor((sum(est_bytes) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) - est_bytes)
                        / 262144.0) AS BIGINT) AS bin_id
      FROM p
    )
    SELECT bin_id,
           cast(count(*) AS BIGINT)     AS n_partitions,
           cast(sum(est_bytes) AS BIGINT) AS bin_bytes,
           min(day)                     AS first_day,
           max(day)                     AS last_day
    FROM b GROUP BY bin_id
    """,
)
def partition_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the table-maintenance pass every
    lakehouse runs: estimate each day-partition's payload (a fixed
    per-row overhead plus variable-width columns), then assign
    consecutive days to compaction bins with the NEXT-FIT rule, bin =
    floor(preceding-cumulative / target). Next-fit (not first-fit
    decreasing) is the deliberate choice: it preserves day ordering —
    so compacted files stay range-prunable on date — and it is a pure
    running-sum window, no sequential bin state. Target here is 256 KiB
    to produce a multi-bin plan at test scale; the constant is the only
    thing that changes at 100 TB. Integer byte arithmetic throughout.
    """
    ev = _t(spark, sf_dir, "events")
    p = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            40
            + F.length(F.coalesce(F.col("event_type"), F.lit("")))
            + F.length(F.coalesce(F.col("props"), F.lit("")))
        ).alias("est_bytes")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b = p.withColumn(
        "bin_id",
        F.floor(
            (F.sum("est_bytes").over(w) - F.col("est_bytes")) / 262144.0
        ).cast("long"),
    )
    return b.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("est_bytes").alias("bin_bytes"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


@register(
    "sampling_rate_recommendation",
    oracle="""
    WITH s AS (
      SELECT user_id, count(*) AS n,
             round(avg(value), 6)        AS mu,
             round(stddev_samp(value), 6) AS sigma
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n, mu, sigma,
           CAST(ceil(pow(1.96 * sigma / (0.05 * mu), 2)) AS BIGINT)
             AS n_required,
           round(least(1.0,
                 ceil(pow(1.96 * sigma / (0.05 * mu), 2)) / n), 6)
             AS keep_fraction
    FROM s WHERE mu <> 0
    """,
)
def sampling_rate_recommendation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each sensor's stream do we actually need? — the
    statistical downsampling planner: from each sensor's mean and
    variance, the sample size that pins the mean to ±5% relative error
    at 95% confidence (n = (1.96·sigma / 0.05·mu)^2), and the keep
    fraction that achieves it. Chatty-but-stable sensors get a tiny
    fraction; noisy ones keep everything (fraction capped at 1). This
    is the principled version of 'sample 10% of everything' — at
    100 TB it is the difference between uniform decimation and
    variance-aware retention. Moments are rounded before the planning
    algebra so both engines recommend identically; one hash agg total.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    n_req = F.ceil(
        F.pow(1.96 * F.col("sigma") / (0.05 * F.col("mu")), 2)
    )
    return s.where(F.col("mu") != 0).select(
        "user_id", "n", "mu", "sigma",
        n_req.cast("long").alias("n_required"),
        F.round(F.least(F.lit(1.0), n_req / F.col("n")), 6).alias("keep_fraction"),
    )


@register(
    "cohort_ltv_curves",
    oracle="""
    WITH uw AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END)
               AS revenue
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id
    ),
    ca AS (
      SELECT c.cohort, uw.wk - c.cohort AS age,
             round(sum(uw.revenue), 2)  AS rev,
             count(DISTINCT uw.user_id) AS n_active
      FROM uw JOIN c ON uw.user_id = c.user_id
      GROUP BY c.cohort, uw.wk - c.cohort
    ),
    sz AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY cohort)
    SELECT ca.cohort, CAST(ca.age AS BIGINT) AS age,
           CAST(sz.cohort_size AS BIGINT)    AS cohort_size,
           CAST(ca.n_active AS BIGINT)       AS n_active,
           ca.rev,
           round(sum(ca.rev) OVER (PARTITION BY ca.cohort ORDER BY ca.age
                                   ROWS UNBOUNDED PRECEDING), 2)
             AS cum_revenue,
           round(sum(ca.rev) OVER (PARTITION BY ca.cohort ORDER BY ca.age
                                   ROWS UNBOUNDED PRECEDING)
                 / sz.cohort_size, 6)        AS ltv_per_user
    FROM ca JOIN sz ON ca.cohort = sz.cohort
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the finance companion to the
    retention triangle already shipped: for each signup-week cohort and
    week-of-life age, the purchase revenue earned, its running
    cumulative, and LTV per ORIGINAL cohort member (dividing by cohort
    size, not actives — the mistake that inflates every naive LTV
    chart). Per-(cohort, age) revenue is rounded BEFORE the running
    cumulative, which then accumulates in frame order — reproducible
    on both engines. Event volume collapses at the first (user, week)
    aggregation.
    """
    ev = _t(spark, sf_dir, "events")
    uw = ev.groupBy(
        "user_id",
        F.floor(F.col("ts").cast("double") / 604800).cast("long").alias("wk"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("revenue")
    )
    c = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    ca = (
        uw.join(c, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("age"))
        .agg(
            F.round(F.sum("revenue"), 2).alias("rev"),
            F.countDistinct("user_id").alias("n_active"),
        )
    )
    sz = c.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    wc = (
        Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ca.join(F.broadcast(sz), "cohort").select(
        "cohort", "age", "cohort_size", "n_active", "rev",
        F.round(F.sum("rev").over(wc), 2).alias("cum_revenue"),
        F.round(F.sum("rev").over(wc) / F.col("cohort_size"), 6).alias("ltv_per_user"),
    )


@register(
    "nelson_aalen_hazard",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) AS start_ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts,
             max(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    durations AS (
      SELECT CASE WHEN buy_ts IS NOT NULL
                  THEN round(epoch(buy_ts) - epoch(start_ts), 3)
                  ELSE round(epoch(last_ts) - epoch(start_ts), 3) END AS t,
             (buy_ts IS NOT NULL)::INT AS observed
      FROM per_user
      WHERE epoch(last_ts) > epoch(start_ts)
    ),
    ev_t AS (
      SELECT t, count(*) AS cnt, sum(observed) AS d
      FROM durations GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             sum(cnt) OVER (ORDER BY t
                            ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS n_risk
      FROM ev_t
    )
    SELECT t AS duration_s,
           CAST(d AS BIGINT)       AS n_events,
           CAST(n_risk AS BIGINT)  AS n_at_risk,
           round(sum(d * 1.0 / n_risk)
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6)
                                   AS cum_hazard,
           round(sum(d * 1.0 / (n_risk * n_risk))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6)
                                   AS hazard_var,
           round(exp(-sum(d * 1.0 / n_risk)
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
                                   AS na_survival
    FROM risk WHERE d > 0
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator for time-to-first-
    purchase — the hazard-space companion of `km_time_to_purchase`
    (KM multiplies survival factors; NA sums d/n hazard increments, is
    defined even when a risk set empties, and carries the standard
    Σ d/n² variance). Censoring = users with no purchase, censored at
    their last event. The risk set is a REVERSE cumulative count over
    the per-duration aggregate (no correlated subquery, no self-join),
    and both running sums are frame-ordered — the one reproducible
    float-sum shape — so the only libm call (exp) lands on identical
    inputs and is rounded to 6dp. Scale: events reduce to one row per
    user then one per distinct duration; the windows run over the
    duration relation, not the corpus."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("buy_ts"),
        F.max("ts").alias("last_ts"),
    )
    end_ts = F.coalesce(F.col("buy_ts"), F.col("last_ts"))
    durations = per_user.filter(
        F.col("last_ts").cast("double") > F.col("start_ts").cast("double")
    ).select(
        F.round(
            end_ts.cast("double") - F.col("start_ts").cast("double"), 3
        ).alias("t"),
        F.col("buy_ts").isNotNull().cast("int").alias("observed"),
    )
    ev_t = durations.groupBy("t").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("observed").alias("d")
    )
    w_rev = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_fwd = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = ev_t.select(
        "t", "d", F.sum("cnt").over(w_rev).alias("n_risk")
    )
    haz = F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(w_fwd)
    return risk.filter(F.col("d") > 0).select(
        F.col("t").alias("duration_s"),
        F.col("d").cast("long").alias("n_events"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.round(haz, 6).alias("cum_hazard"),
        F.round(
            F.sum(
                F.col("d") * 1.0 / (F.col("n_risk") * F.col("n_risk"))
            ).over(w_fwd),
            6,
        ).alias("hazard_var"),
        F.round(F.exp(-haz), 6).alias("na_survival"),
    )


@register(
    "reconciled_weekly_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             round(sum(value), 6) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)
    ),
    lastday AS (SELECT max(d) AS mx FROM daily),
    base AS (
      SELECT dd.event_type, h.h AS horizon_day,
             coalesce(dd.v, 0.0) AS fc_bottom
      FROM (SELECT unnest(range(1, 8)) AS h) h
      CROSS JOIN lastday l
      LEFT JOIN daily dd
        ON dd.d = l.mx - INTERVAL 7 DAY + h.h * INTERVAL 1 DAY
      WHERE dd.event_type IS NOT NULL
    ),
    topf AS (
      SELECT h.h AS horizon_day,
             round(sum(coalesce(dt.v, 0.0)), 6) AS fc_top
      FROM (SELECT unnest(range(1, 8)) AS h) h
      CROSS JOIN lastday l
      LEFT JOIN daily dt
        ON dt.d = l.mx - INTERVAL 14 DAY + h.h * INTERVAL 1 DAY
      GROUP BY h.h
    ),
    bsum AS (
      SELECT horizon_day, round(sum(fc_bottom), 6) AS s
      FROM base GROUP BY horizon_day
    )
    SELECT b.event_type,
           CAST(b.horizon_day AS BIGINT) AS horizon_day,
           round(b.fc_bottom, 6) AS base_forecast,
           round(t.fc_top * b.fc_bottom / s.s, 6) AS reconciled_forecast,
           round(t.fc_top, 6) AS top_forecast
    FROM base b
    JOIN bsum s USING (horizon_day)
    JOIN topf t USING (horizon_day)
    WHERE s.s > 0
    """,
)
def reconciled_weekly_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical forecast reconciliation (top-down by forecast
    proportions): per-type seasonal-naive daily forecasts for the next
    week (last week's same weekday), an INDEPENDENT total-level forecast
    (the week before, at the aggregate grain — deliberately a different
    information set, so the hierarchy is incoherent before
    reconciliation), and the reconciled bottom series
    top × (bottom / Σ bottom) that restores Σ_types = total by
    construction — the coherence property dashboards and planners
    require of any forecast hierarchy. Daily sums are rounded before any
    downstream arithmetic (the cohort-LTV float discipline); the
    forecast lookups are equi-joins on derived dates (no window over the
    horizon); everything is bounded-grain after the one daily rollup."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    lastday = daily.agg(F.max("d").alias("mx"))
    horizons = spark.range(1, 8).select(
        F.col("id").cast("int").alias("horizon_day")
    )
    grid = horizons.crossJoin(F.broadcast(lastday))
    base = (
        grid.join(
            daily,
            (
                daily.d
                == F.date_add(
                    F.col("mx"), F.col("horizon_day") - 7
                )
            ),
            "left",
        )
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            "horizon_day",
            F.coalesce(F.col("v"), F.lit(0.0)).alias("fc_bottom"),
        )
    )
    topf = (
        grid.join(
            daily,
            daily.d
            == F.date_add(F.col("mx"), F.col("horizon_day") - 14),
            "left",
        )
        .groupBy("horizon_day")
        .agg(
            F.round(F.sum(F.coalesce(F.col("v"), F.lit(0.0))), 6).alias(
                "fc_top"
            )
        )
    )
    bsum = base.groupBy("horizon_day").agg(
        F.round(F.sum("fc_bottom"), 6).alias("s")
    )
    return (
        base.join(F.broadcast(bsum), "horizon_day")
        .join(F.broadcast(topf), "horizon_day")
        .filter(F.col("s") > 0)
        .select(
            "event_type",
            F.col("horizon_day").cast("long").alias("horizon_day"),
            F.round("fc_bottom", 6).alias("base_forecast"),
            F.round(
                F.col("fc_top") * F.col("fc_bottom") / F.col("s"), 6
            ).alias("reconciled_forecast"),
            F.round("fc_top", 6).alias("top_forecast"),
        )
    )


_RANSAC_TOL = 15.0
_RANSAC_CANDS = 16

_RANSAC_ORACLE = f"""
    WITH pts AS (
      SELECT event_type, event_id, value AS y,
             (epoch(ts) - min(epoch(ts)) OVER (PARTITION BY event_type))
               / 3600.0 AS x
      FROM events WHERE value IS NOT NULL
    ),
    seeded AS (
      SELECT p.event_type, p.x, p.y, c.c,
             row_number() OVER (
               PARTITION BY p.event_type, c.c
               ORDER BY md5(CAST(p.event_id AS VARCHAR) || '|'
                            || CAST(c.c AS VARCHAR)), p.event_id) AS rk
      FROM pts p CROSS JOIN (SELECT unnest(range(0, {_RANSAC_CANDS})) AS c) c
    ),
    cand AS (
      SELECT a.event_type, a.c,
             (b.y - a.y) / (b.x - a.x) AS slope,
             a.y - (b.y - a.y) / (b.x - a.x) * a.x AS intercept
      FROM seeded a JOIN seeded b
        ON a.event_type = b.event_type AND a.c = b.c
       AND a.rk = 1 AND b.rk = 2 AND a.x <> b.x
    ),
    scored AS (
      SELECT k.event_type, k.c, k.slope, k.intercept,
             count(CASE WHEN abs(p.y - (k.intercept + k.slope * p.x))
                             <= {_RANSAC_TOL} THEN 1 END) AS n_inliers
      FROM cand k JOIN pts p ON p.event_type = k.event_type
      GROUP BY k.event_type, k.c, k.slope, k.intercept
    ),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY n_inliers DESC, c) AS rn
        FROM scored) WHERE rn = 1
    ),
    refit AS (
      SELECT b.event_type, b.c, b.n_inliers,
             count(*) AS n, sum(p.x) AS sx, sum(p.y) AS sy,
             sum(p.x * p.x) AS sxx, sum(p.x * p.y) AS sxy
      FROM best b JOIN pts p ON p.event_type = b.event_type
      WHERE abs(p.y - (b.intercept + b.slope * p.x)) <= {_RANSAC_TOL}
      GROUP BY b.event_type, b.c, b.n_inliers
    )
    SELECT event_type,
           CAST(c AS BIGINT)          AS candidate_id,
           CAST(n_inliers AS BIGINT)  AS n_inliers,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                                      AS slope_refit,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6)              AS intercept_refit
    FROM refit
    """


@register("ransac_trend_per_type", oracle=_RANSAC_ORACLE)
def ransac_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC robust line fit per event type — the consensus-based
    member of the robust-trend family (Huber reweights, Theil–Sen
    medians slopes, RANSAC votes): 16 deterministic candidate lines per
    type (each through a 2-point sample drawn by a per-candidate md5
    ranking — reproducible across engines and runs), inliers counted
    within ±15 of each line, the max-consensus candidate wins (ties to
    the lower candidate id), and the winner is REFIT by OLS over its own
    inliers from one-pass raw sums. Candidate and best relations are
    bounded (types × 16), so both scoring joins broadcast the model side
    and scan the points once each — no pair stage, no per-key
    quadratic."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wmin = Window.partitionBy("event_type")
    pts = ev.select(
        "event_type",
        "event_id",
        F.col("value").alias("y"),
        (
            (
                F.col("ts").cast("double")
                - F.min(F.col("ts").cast("double")).over(wmin)
            )
            / 3600.0
        ).alias("x"),
    )
    cands = spark.range(_RANSAC_CANDS).select(
        F.col("id").cast("int").alias("c")
    )
    seeded = pts.crossJoin(F.broadcast(cands)).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type", "c").orderBy(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        F.col("c").cast("string"),
                    )
                ),
                "event_id",
            )
        ),
    )
    # one rk<=2 filter directly above the row_number window lets Spark
    # infer a WindowGroupLimit (map-side top-2 per (type, candidate)
    # BEFORE the shuffle), and min_by/max_by over the two survivors
    # replaces the old two-branch self-join that evaluated the 16xN
    # window sort twice (measured 5.5s -> ~2x less window work at sf0.1)
    two = seeded.filter(F.col("rk") <= 2).groupBy("event_type", "c").agg(
        F.min_by(F.struct("x", "y"), "rk").alias("p1"),
        F.max_by(F.struct("x", "y"), "rk").alias("p2"),
        F.count(F.lit(1)).alias("_np"),
    )
    slope = (F.col("p2.y") - F.col("p1.y")) / (
        F.col("p2.x") - F.col("p1.x")
    )
    cand = (
        two.filter(
            (F.col("_np") == 2) & (F.col("p1.x") != F.col("p2.x"))
        )
        .select(
            "event_type",
            "c",
            slope.alias("slope"),
            (F.col("p1.y") - slope * F.col("p1.x")).alias("intercept"),
        )
    )
    resid = F.abs(
        F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x"))
    )
    scored = (
        pts.join(F.broadcast(cand), "event_type")
        .groupBy("event_type", "c", "slope", "intercept")
        .agg(
            F.count(F.when(resid <= _RANSAC_TOL, 1)).alias("n_inliers")
        )
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.col("n_inliers").desc(), F.col("c")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    refit = (
        pts.join(F.broadcast(best), "event_type")
        .filter(resid <= _RANSAC_TOL)
        .groupBy("event_type", "c", "n_inliers")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    b_hat = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return refit.select(
        "event_type",
        F.col("c").cast("long").alias("candidate_id"),
        F.col("n_inliers").cast("long").alias("n_inliers"),
        F.round(b_hat, 6).alias("slope_refit"),
        F.round(
            (F.col("sy") - b_hat * F.col("sx")) / F.col("n"), 6
        ).alias("intercept_refit"),
    )
