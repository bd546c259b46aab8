"""Contract queries: mergeable sketch aggregates (DataSketches).

The scale path for distinct counts and quantiles: exact versions shuffle
every distinct key (fine until key cardinality explodes); sketches are
CONSTANT-SIZE mergeable state — per-partition partials union
associatively, so incremental maintenance (yesterday's sketch + today's
delta) costs one merge instead of a recount over history. These are the
sketch twins of `distinct_users_per_type` / `value_percentiles_per_type`
(the exact, oracle-checked versions); sketch binaries are
engine-specific, so these entries are rows-only with accuracy pinned
against the exact values in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .core import register, _t


@register(
    "hll_distinct_users_rollup",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def hll_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level HLL rollup: per-(type, day) sketches built once, then
    per-type totals come from ``hll_union_agg`` over the DAILY sketches —
    no second pass over raw rows. This is the incremental-maintenance
    shape: materialize the daily sketch table, and any rollup (weekly,
    all-time, sliced) is a union of a few KB blobs.

    Accuracy contract: the sketch blob/estimate is engine-specific, so
    the query emits exact values (n_days, exact distinct users) plus a
    Spark-computed ``within_5pct`` boolean on the unioned-sketch estimate
    vs the exact count; the oracle asserts TRUE, making sketch drift a
    driver-visible hash failure."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    rolled = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("long")
        .alias("_approx"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_days",
        "n_users_exact",
        (
            F.abs(F.col("_approx") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= 0.05
        ).alias("within_5pct"),
    )


@register(
    "kll_value_quantiles",
    oracle="""
    SELECT event_type,
           round(median(value), 4)              AS p50_exact,
           round(quantile_cont(value, 0.90), 4) AS p90_exact,
           round(quantile_cont(value, 0.99), 4) AS p99_exact,
           TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
    FROM events GROUP BY event_type
    """,
)
def kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches per event type: p50/p90/p99 of ``value`` read
    from one constant-size sketch per group instead of a full sort or an
    exact percentile shuffle. At 100 TB the sketch is the only viable
    per-key quantile when groups have billions of rows.

    Accuracy contract (rank-space, the guarantee KLL actually makes):
    each sketch estimate must land between the exact values at rank
    q±0.05 — e.g. the sketch p50 within [exact p45, exact p55]. The
    query emits the exact percentiles plus the in-band booleans; the
    oracle asserts TRUE, so sketch drift is a driver-visible failure."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sketch"),
        F.round(F.median("value"), 4).alias("p50_exact"),
        F.round(F.percentile("value", 0.90), 4).alias("p90_exact"),
        F.round(F.percentile("value", 0.99), 4).alias("p99_exact"),
        F.percentile("value", 0.45).alias("_b45"),
        F.percentile("value", 0.55).alias("_b55"),
        F.percentile("value", 0.85).alias("_b85"),
        F.percentile("value", 0.95).alias("_b95"),
        F.percentile("value", 0.97).alias("_b97"),
        F.max("value").alias("_vmax"),
    )

    def est(q: float):
        return F.kll_sketch_get_quantile_double(F.col("sketch"), F.lit(q))

    return g.select(
        "event_type",
        "p50_exact",
        "p90_exact",
        "p99_exact",
        est(0.5).between(F.col("_b45"), F.col("_b55")).alias("p50_in_band"),
        est(0.9).between(F.col("_b85"), F.col("_b95")).alias("p90_in_band"),
        est(0.99).between(F.col("_b97"), F.col("_vmax")).alias("p99_in_band"),
    )


@register(
    "approx_overlap_users",
    oracle="""
    SELECT (SELECT count(DISTINCT c.user_id)
            FROM events c JOIN events p ON c.user_id = p.user_id
            WHERE c.event_type = 'click' AND p.event_type = 'purchase')
             AS exact_overlap,
           TRUE AS within_15pct
    """,
)
def approx_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set-operation accuracy contract: |clickers ∩ purchasers|
    estimated by HLL inclusion-exclusion (|A| + |B| − |A∪B|, three
    mergeable approx_count_distinct sketches, no join) must land within
    ±15% of the exact join-based overlap. This is the composition HLL
    users actually run — sketches only union natively, so intersections
    go through inclusion-exclusion and inherit BOTH sketches' error;
    the contract pins that the composed error stays inside the bound at
    this precision (rsd 0.01)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    a = clicks.agg(F.approx_count_distinct("user_id", 0.01).alias("na"))
    b = buys.agg(F.approx_count_distinct("user_id", 0.01).alias("nb"))
    u = (
        clicks.select("user_id")
        .unionAll(buys.select("user_id"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("nu"))
    )
    est = (
        a.crossJoin(b)
        .crossJoin(u)
        .select((F.col("na") + F.col("nb") - F.col("nu")).alias("est"))
    )
    exact = (
        clicks.select("user_id")
        .intersect(buys.select("user_id"))
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return exact.crossJoin(est).select(
        "exact_overlap",
        (
            (F.col("est") >= F.col("exact_overlap") * 0.85)
            & (F.col("est") <= F.col("exact_overlap") * 1.15)
        ).alias("within_15pct"),
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    return d.select(F.explode(tokens(F.col("text"))).alias("token"))


@register(
    "token_cms_estimates",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                    x -> x <> '')) AS token
      FROM documents
    ),
    top AS (
      SELECT token FROM (
        SELECT token, count(*) AS n FROM toks GROUP BY token
        ORDER BY n DESC, token LIMIT 20
      )
    ),
    cells AS (
      SELECT i,
             CAST(('0x' || substring(md5('7:' || token), 1 + 8 * i, 8)) AS BIGINT)
               % 1024 AS bucket,
             count(*) AS cnt
      FROM toks CROSS JOIN range(4) r(i)
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT token, i,
             CAST(('0x' || substring(md5('7:' || token), 1 + 8 * i, 8)) AS BIGINT)
               % 1024 AS bucket
      FROM top CROSS JOIN range(4) r(i)
    )
    SELECT p.token, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate
    FROM probes p LEFT JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.token
    """,
)
def token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the corpus' 20 most
    frequent tokens, answered from a 4×1024 mergeable sketch instead of
    the token stream. The sketch here is md5-keyed (row i = hex
    slice [1+8i, 8+8i] of one md5(seed ':' item) digest), so the oracle REBUILDS
    the identical sketch in SQL
    and the estimates themselves are value-hashed — not just floored;
    ``hash='xxhash64'`` stays the cheaper production default (guarantees
    are hash-agnostic — accuracy floors for that path stay pinned by
    token_cms_contract, merge associativity in pytest)."""
    from ..operators.estimate import cms_point_estimates, count_min_sketch

    toks = _doc_tokens(spark, sf_dir)
    sketch = count_min_sketch(toks, "token", hash="md5")
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
        .select("token")
    )
    return cms_point_estimates(sketch, top, "token", hash="md5")


@register(
    "token_cms_contract",
    oracle="""
    SELECT true AS no_underestimate,
           true AS overcount_within_bound,
           true AS covers_all_queries
    """,
)
def token_cms_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked Count-Min guarantees against exact counts for the
    top-20 tokens: (1) a CMS estimate can NEVER undercount (each cell
    sums a superset of the item's occurrences), (2) overcount stays
    within 5·N/width + 5 — loose against the εN = (e/width)·N
    expectation so the bound pins 'works', not hash luck, (3) every
    query token gets an estimate."""
    from ..operators.estimate import cms_point_estimates, count_min_sketch

    toks = _doc_tokens(spark, sf_dir).cache()
    sketch = count_min_sketch(toks, "token")
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token"))
        .limit(20)
    )
    est = cms_point_estimates(sketch, exact.select("token"), "token")
    n_total = toks.agg(F.count(F.lit(1)).alias("_n"))
    joined = exact.join(est, "token").crossJoin(F.broadcast(n_total))
    bound = 5.0 * F.col("_n") / 1024 + 5
    return joined.agg(
        (F.sum((F.col("cms_estimate") < F.col("exact_n")).cast("int")) == 0)
        .alias("no_underestimate"),
        (
            F.max(F.col("cms_estimate") - F.col("exact_n"))
            <= F.max(bound)
        ).alias("overcount_within_bound"),
        (F.count(F.lit(1)) == 20).alias("covers_all_queries"),
    )


@register(
    "bitmap_distinct_users_rollup",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             count(DISTINCT user_id) AS du
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1
    )
    SELECT t.event_type, t.n_users,
           CAST(sum(daily.du) AS BIGINT) AS user_days
    FROM tot t JOIN daily ON daily.event_type = t.event_type
    GROUP BY t.event_type, t.n_users
    """,
)
def bitmap_distinct_users_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting as mergeable bitmap words — the Roaring-
    bitmap pattern in pure column algebra. Each (type, day, word=id/64)
    group ORs member bits into one 64-bit long (``bit_or`` partials merge
    associatively map-side); per-day distincts are ``sum(bit_count)``
    over words, and the all-time per-type distinct re-merges the SAME
    daily words with a second ``bit_or`` — no second pass over raw rows,
    no count_distinct EXPAND. State per group is |id-space|/64 bits
    split across word rows, so the shuffle carries (key, word, long)
    triples: exact where HLL approximates, mergeable where
    count_distinct is not. At 100 TB the daily word table is the
    materialized increment; any rollup (weekly, all-time, sliced) is a
    bit_or over it.
    """
    ev = _t(spark, sf_dir, "events")
    words = (
        ev.groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            (F.col("user_id") / 64).cast("long").alias("word"),
        )
        .agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(pmod(user_id, 64) AS INT))"
                )
            ).alias("bits")
        )
    )
    daily = words.groupBy("event_type", "day").agg(
        F.sum(F.bit_count("bits")).alias("du")
    )
    alltime = (
        words.groupBy("event_type", "word")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("event_type")
        .agg(F.sum(F.bit_count("bits")).alias("n_users"))
    )
    user_days = daily.groupBy("event_type").agg(F.sum("du").alias("user_days"))
    return alltime.join(user_days, "event_type").select(
        "event_type", "n_users", "user_days"
    )


_THETA_ORACLE = """
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    hashed AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM du
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM hashed
    ),
    sk AS (SELECT * FROM ranked WHERE rk <= 64),
    stats AS (
      SELECT event_type, max(n_exact) AS n_exact,
             count(*) AS n_in_sketch,
             CASE WHEN max(n_exact) >= 64
                  THEN max(CASE WHEN rk = 64 THEN h END) * 1.0
                       / 1152921504606846976
                  ELSE 1.0 END AS theta
      FROM sk GROUP BY event_type
    ),
    card AS (
      SELECT event_type, n_exact, theta,
             CASE WHEN n_exact >= 64 THEN 63.0 / theta
                  ELSE n_in_sketch * 1.0 END AS n_est
      FROM stats
    ),
    ab AS (
      SELECT least(ca.theta, cb.theta) AS theta_ab
      FROM stats ca, stats cb
      WHERE ca.event_type = 'click' AND cb.event_type = 'purchase'
    ),
    inter AS (
      SELECT count(*) AS c
      FROM sk a JOIN sk b ON a.h = b.h
      CROSS JOIN ab
      WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        AND a.h * 1.0 / 1152921504606846976 < ab.theta_ab
    ),
    exact_i AS (
      SELECT count(*) AS n_overlap_exact FROM (
        SELECT user_id FROM du WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM du WHERE event_type = 'purchase'
      )
    )
    SELECT cc.n_exact                                  AS n_click_exact,
           round(cc.n_est, 4)                          AS n_click_est,
           cp.n_exact                                  AS n_purchase_exact,
           round(cp.n_est, 4)                          AS n_purchase_est,
           ei.n_overlap_exact,
           round(i.c / ab.theta_ab, 4)                 AS n_overlap_est,
           abs(cc.n_est - cc.n_exact) <= 0.5 * cc.n_exact
             AND abs(cp.n_est - cp.n_exact) <= 0.5 * cp.n_exact
                                                       AS card_within_50pct
    FROM card cc, card cp, inter i, ab, exact_i ei
    WHERE cc.event_type = 'click' AND cp.event_type = 'purchase'
    """


@register("theta_sketch_user_overlap", oracle=_THETA_ORACLE)
def theta_sketch_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta sketch (k=64) set operations — the DataSketches-style
    alternative to HLL where INTERSECTION is a first-class operation
    instead of error-compounding inclusion-exclusion: each side keeps its
    k minimum 60-bit md5 hash values, θ = the k-th minimum as a fraction
    of hash space, cardinality ≈ (k−1)/θ, and the overlap estimate counts
    shared sketch entries below θ_∩ = min(θ_A, θ_B) scaled by 1/θ_∩.
    Unlike the HLL contract this sketch is fully DETERMINISTIC (md5
    order), so the oracle checks exact VALUES, not just an error band;
    the ±50% bound (k=64 ⇒ σ≈13%) rides along as a self-documenting
    boolean. Scale: the sketch relation is ≤k rows per side regardless of
    corpus size (partial row_number via WindowGroupLimit), every
    downstream join touches ≤k rows, and sketches of shards merge by
    keeping the k smallest of the union — the mergeability that makes
    this the warehouse-standard distinct-set algebra."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    du = ev.select("event_type", "user_id").distinct()
    two60 = 1152921504606846976  # 2^60
    hashed = du.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    sk = ranked.filter(F.col("rk") <= 64)
    stats = sk.groupBy("event_type").agg(
        F.max("n_exact").alias("n_exact"),
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.when(
            F.max("n_exact") >= 64,
            F.max(F.when(F.col("rk") == 64, F.col("h"))) * 1.0 / two60,
        )
        .otherwise(F.lit(1.0))
        .alias("theta"),
    )
    card = stats.select(
        "event_type",
        "n_exact",
        "theta",
        F.when(F.col("n_exact") >= 64, 63.0 / F.col("theta"))
        .otherwise(F.col("n_in_sketch") * 1.0)
        .alias("n_est"),
    )
    cc = card.filter(F.col("event_type") == "click").select(
        F.col("n_exact").alias("n_click_exact"),
        F.col("n_est").alias("click_est"),
        F.col("theta").alias("theta_a"),
    )
    cp = card.filter(F.col("event_type") == "purchase").select(
        F.col("n_exact").alias("n_purchase_exact"),
        F.col("n_est").alias("purchase_est"),
        F.col("theta").alias("theta_b"),
    )
    ab = cc.crossJoin(cp).select(
        "n_click_exact",
        "click_est",
        "n_purchase_exact",
        "purchase_est",
        F.least("theta_a", "theta_b").alias("theta_ab"),
    )
    ska = sk.filter(F.col("event_type") == "click").select(
        F.col("h").alias("ha")
    )
    skb = sk.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb")
    )
    inter = (
        ska.join(skb, ska.ha == skb.hb)
        .crossJoin(F.broadcast(ab.select("theta_ab")))
        .filter(F.col("ha") * 1.0 / two60 < F.col("theta_ab"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact_i = (
        du.filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(
            du.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_overlap_exact"))
    )
    return (
        ab.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(exact_i))
        .select(
            "n_click_exact",
            F.round("click_est", 4).alias("n_click_est"),
            "n_purchase_exact",
            F.round("purchase_est", 4).alias("n_purchase_est"),
            "n_overlap_exact",
            F.round(F.col("c") / F.col("theta_ab"), 4).alias(
                "n_overlap_est"
            ),
            (
                (
                    F.abs(F.col("click_est") - F.col("n_click_exact"))
                    <= 0.5 * F.col("n_click_exact")
                )
                & (
                    F.abs(
                        F.col("purchase_est") - F.col("n_purchase_exact")
                    )
                    <= 0.5 * F.col("n_purchase_exact")
                )
            ).alias("card_within_50pct"),
        )
    )


@register(
    "theta_sketch_a_not_b",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    hashed AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM du
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n_exact
      FROM hashed
    ),
    sk AS (SELECT * FROM ranked WHERE rk <= 64),
    stats AS (
      SELECT event_type, max(n_exact) AS n_exact,
             count(*) AS n_in_sketch,
             CASE WHEN max(n_exact) >= 64
                  THEN max(CASE WHEN rk = 64 THEN h END) * 1.0
                       / 1152921504606846976
                  ELSE 1.0 END AS theta
      FROM sk GROUP BY event_type
    ),
    ab AS (
      SELECT least(ca.theta, cb.theta) AS theta_ab,
             ca.n_exact AS n_click_exact
      FROM stats ca, stats cb
      WHERE ca.event_type = 'click' AND cb.event_type = 'purchase'
    ),
    diff AS (
      SELECT count(*) AS c
      FROM sk a
      CROSS JOIN ab
      WHERE a.event_type = 'click'
        AND a.h * 1.0 / 1152921504606846976 < ab.theta_ab
        AND NOT EXISTS (SELECT 1 FROM sk b
                        WHERE b.event_type = 'purchase' AND b.h = a.h)
    ),
    exact_d AS (
      SELECT count(*) AS n_anotb_exact FROM (
        SELECT user_id FROM du WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM du WHERE event_type = 'purchase'
      )
    )
    SELECT CAST(ab.n_click_exact AS BIGINT) AS n_click_exact,
           CAST(ed.n_anotb_exact AS BIGINT) AS n_anotb_exact,
           round(d.c / ab.theta_ab, 4) AS n_anotb_est,
           abs(d.c / ab.theta_ab - ed.n_anotb_exact)
             <= 0.5 * ed.n_anotb_exact AS within_50pct
    FROM ab, diff d, exact_d ed
    """,
)
def theta_sketch_a_not_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-NOT-B (clickers who never purchased) — the set
    DIFFERENCE that completes the sketch algebra started by
    `theta_sketch_user_overlap` (union and intersection): keep the
    click sketch's entries below θ_∩ = min(θ_A, θ_B) that are absent
    from the purchase sketch (an anti-join over ≤k rows), scale by
    1/θ_∩. Deterministic (md5 KMV order), so the oracle checks exact
    values; the exact EXCEPT cardinality and a self-documenting ±50%
    band ride along. Scale: both sketches are ≤k=64 rows regardless of
    corpus size, so the difference costs an anti-join over 64 rows —
    the audience-exclusion primitive (retargeting suppression lists)
    at any scale."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    du = ev.select("event_type", "user_id").distinct()
    two60 = 1152921504606846976  # 2^60
    hashed = du.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    ranked = hashed.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    sk = ranked.filter(F.col("rk") <= 64)
    stats = sk.groupBy("event_type").agg(
        F.max("n_exact").alias("n_exact"),
        F.when(
            F.max("n_exact") >= 64,
            F.max(F.when(F.col("rk") == 64, F.col("h"))) * 1.0 / two60,
        )
        .otherwise(F.lit(1.0))
        .alias("theta"),
    )
    ca = stats.filter(F.col("event_type") == "click").select(
        F.col("n_exact").alias("n_click_exact"),
        F.col("theta").alias("theta_a"),
    )
    cb = stats.filter(F.col("event_type") == "purchase").select(
        F.col("theta").alias("theta_b")
    )
    ab = ca.crossJoin(cb).select(
        "n_click_exact",
        F.least("theta_a", "theta_b").alias("theta_ab"),
    )
    ska = sk.filter(F.col("event_type") == "click").select("h")
    skb = sk.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("hb")
    )
    diff = (
        ska.join(skb, ska.h == skb.hb, "left_anti")
        .crossJoin(F.broadcast(ab.select("theta_ab")))
        .filter(F.col("h") * 1.0 / two60 < F.col("theta_ab"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact_d = (
        du.filter(F.col("event_type") == "click")
        .select("user_id")
        .exceptAll(
            du.filter(F.col("event_type") == "purchase")
            .select("user_id")
            .distinct()
        )
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_anotb_exact"))
    )
    est = F.col("c") / F.col("theta_ab")
    return (
        ab.crossJoin(F.broadcast(diff))
        .crossJoin(F.broadcast(exact_d))
        .select(
            F.col("n_click_exact").cast("long").alias("n_click_exact"),
            F.col("n_anotb_exact").cast("long").alias("n_anotb_exact"),
            F.round(est, 4).alias("n_anotb_est"),
            (
                F.abs(est - F.col("n_anotb_exact"))
                <= 0.5 * F.col("n_anotb_exact")
            ).alias("within_50pct"),
        )
    )


@register(
    "token_cms_drift",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS half, unnest(
        list_filter(regexp_split_to_array(lower(text), '\\s+'),
                    x -> x <> '')) AS token
      FROM documents
    ),
    probes AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token LIMIT 10
      )
    ),
    fan AS (
      SELECT t.half, r.r,
             CAST(('0x' || substring(md5(r.r || ':' || t.token), 1, 15))
                  AS BIGINT) % 256 AS col
      FROM tok t CROSS JOIN (
        SELECT CAST(unnest(range(4)) AS VARCHAR) AS r) r
    ),
    counters AS (
      SELECT half, r, col, count(*) AS cnt FROM fan GROUP BY half, r, col
    ),
    probe_cells AS (
      SELECT p.token, h.half, r.r,
             CAST(('0x' || substring(md5(r.r || ':' || p.token), 1, 15))
                  AS BIGINT) % 256 AS col
      FROM probes p
      CROSS JOIN (SELECT CAST(unnest(range(4)) AS VARCHAR) AS r) r
      CROSS JOIN (SELECT unnest([0, 1]) AS half) h
    ),
    est AS (
      SELECT pc.token, pc.half, min(c.cnt) AS est
      FROM probe_cells pc JOIN counters c
        ON c.half = pc.half AND c.r = pc.r AND c.col = pc.col
      GROUP BY pc.token, pc.half
    ),
    exact AS (
      SELECT p.token, t.half, count(*) AS exact
      FROM probes p JOIN tok t ON t.token = p.token
      GROUP BY p.token, t.half
    ),
    wide AS (
      SELECT e.token,
             max(CASE WHEN e.half = 0 THEN e.exact END) AS exact_h0,
             max(CASE WHEN e.half = 1 THEN e.exact END) AS exact_h1,
             max(CASE WHEN s.half = 0 THEN s.est END) AS est_h0,
             max(CASE WHEN s.half = 1 THEN s.est END) AS est_h1
      FROM exact e JOIN est s ON s.token = e.token AND s.half = e.half
      GROUP BY e.token
    )
    SELECT token,
           CAST(exact_h0 AS BIGINT) AS exact_h0,
           CAST(exact_h1 AS BIGINT) AS exact_h1,
           CAST(est_h0 AS BIGINT) AS est_h0,
           CAST(est_h1 AS BIGINT) AS est_h1,
           CAST(exact_h1 - exact_h0 AS BIGINT) AS delta_exact,
           CAST(est_h1 - est_h0 AS BIGINT) AS delta_est,
           est_h0 >= exact_h0 AND est_h1 >= exact_h1 AS never_undercounts
    FROM wide
    """,
)
def token_cms_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based token drift between two corpus halves (doc_id
    parity): a 4×256 Count-Min sketch is built PER HALF from one
    grouped aggregation (≤2·4·256 counter rows regardless of corpus
    size), and the 10 globally most frequent tokens are probed in both
    sketches — delta_est is the drift a monitoring pipeline reads
    WITHOUT storing per-token counts, and the CMS one-sided guarantee
    (estimates never undercount) rides along as a checked boolean per
    probe. md5 row-hashes (not xxhash) so the whole sketch is
    engine-replayable and every value is hash-checked. At 100 TB the
    counter relation is still 2048 rows; only the token explode scans
    the corpus, and it partial-aggregates map-side."""
    from pyspark import StorageLevel

    from ..operators.text import tokens
    from ..operators.similarity import _spread

    d = _t(spark, sf_dir, "documents")
    # One corpus tokenization instead of three: the previous shape
    # re-evaluated the explode for the probe ranking, the CMS fan-out
    # AND the exact counts (3 full scans of the heaviest stage, on one
    # core off the single-file scan). Aggregate once to the
    # (half, token, cnt) histogram — vocabulary-sized, not corpus-sized,
    # so the within-invocation persist is bounded at any corpus scale
    # (guide §5.2) — and derive all three consumers from it with
    # weighted sums (identical counts: sum of per-(half,token) counts
    # == count of underlying rows).
    tok = _spread(d.select("doc_id", "text")).select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    hist = (
        tok.groupBy("half", "token")
        .agg(F.count(F.lit(1)).alias("hcnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probes = (
        hist.groupBy("token")
        .agg(F.sum("hcnt").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(10)
        .select("token")
    )
    reps = spark.range(4).select(F.col("id").cast("string").alias("r"))
    col_for = lambda r, t: (  # noqa: E731
        F.conv(
            F.substring(F.md5(F.concat_ws(":", r, t)), 1, 15), 16, 10
        ).cast("long")
        % 256
    )
    fan = hist.crossJoin(F.broadcast(reps)).select(
        "half",
        "r",
        col_for(F.col("r"), F.col("token")).alias("col"),
        "hcnt",
    )
    counters = fan.groupBy("half", "r", "col").agg(
        F.sum("hcnt").alias("cnt")
    )
    halves = spark.range(2).select(F.col("id").alias("half"))
    probe_cells = (
        probes.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(halves))
        .select(
            "token",
            "half",
            "r",
            col_for(F.col("r"), F.col("token")).alias("col"),
        )
    )
    est = (
        probe_cells.join(counters, ["half", "r", "col"])
        .groupBy("token", "half")
        .agg(F.min("cnt").alias("est"))
    )
    exact = (
        hist.join(F.broadcast(probes), "token")
        .groupBy("token", "half")
        .agg(F.sum("hcnt").alias("exact"))
    )
    wide = (
        exact.join(est, ["token", "half"])
        .groupBy("token")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("exact"))).alias(
                "exact_h0"
            ),
            F.max(F.when(F.col("half") == 1, F.col("exact"))).alias(
                "exact_h1"
            ),
            F.max(F.when(F.col("half") == 0, F.col("est"))).alias(
                "est_h0"
            ),
            F.max(F.when(F.col("half") == 1, F.col("est"))).alias(
                "est_h1"
            ),
        )
    )
    return wide.select(
        "token",
        F.col("exact_h0").cast("long").alias("exact_h0"),
        F.col("exact_h1").cast("long").alias("exact_h1"),
        F.col("est_h0").cast("long").alias("est_h0"),
        F.col("est_h1").cast("long").alias("est_h1"),
        (F.col("exact_h1") - F.col("exact_h0"))
        .cast("long")
        .alias("delta_exact"),
        (F.col("est_h1") - F.col("est_h0"))
        .cast("long")
        .alias("delta_est"),
        (
            (F.col("est_h0") >= F.col("exact_h0"))
            & (F.col("est_h1") >= F.col("exact_h1"))
        ).alias("never_undercounts"),
    )


@register(
    "token_heavy_hitters_mg",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(
        regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS token
      FROM documents
    ),
    exact AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    tot AS (SELECT sum(n) AS n_total FROM exact),
    top AS (
      SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token ASC) AS rk
      FROM exact
    )
    SELECT t.token,
           CAST(t.n AS BIGINT) AS true_count,
           CAST(x.n_total // 33 AS BIGINT) AS guarantee_threshold,
           t.n > x.n_total / 33.0 AS is_guaranteed,
           TRUE AS recovered_or_not_guaranteed,
           TRUE AS never_overcounts,
           TRUE AS undercount_within_bound
    FROM top t CROSS JOIN tot x
    WHERE t.rk <= 10
    """,
)
def token_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries heavy-hitters accuracy contract: the DETERMINISTIC
    sketch of the frequency family (Count-Min bounds hold with
    probability; MG's hold always). The query emits the exact top-10
    tokens (count desc, token asc — oracle-matched values) plus three
    Spark-computed booleans the oracle asserts TRUE: every token
    guaranteed by theory (true_count > n/(k+1), k=32) is in the MG
    summary; every MG estimate ≤ its true count; every undercount
    ≤ n/(k+1). The booleans are order-independent even though the MG
    candidate SET itself varies with partition order — exactly the
    property that makes the summary safe to ship from 1000 executors.
    Scale shape: one Arrow pass with k counters per partition, a
    partitions×k merge relation, and a bounded top-10."""
    from ..operators.estimate import misra_gries_heavy_hitters
    from ..operators.text import tokens

    k = 32
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("token"))
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = exact.agg(F.sum("n").alias("n_total"))
    mg = misra_gries_heavy_hitters(tok, "token", k=k).withColumnRenamed(
        "item", "token"
    )
    top = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("token").asc())
            ),
        )
        .filter(F.col("rk") <= 10)
        .drop("rk")
    )
    j = (
        top.join(mg, "token", "left")
        .crossJoin(F.broadcast(tot))
    )
    thresh = F.col("n_total") / (k + 1.0)
    found = F.col("mg_estimate").isNotNull()
    return j.select(
        "token",
        F.col("n").cast("long").alias("true_count"),
        F.floor(F.col("n_total") / (k + 1)).cast("long").alias(
            "guarantee_threshold"
        ),
        (F.col("n") > thresh).alias("is_guaranteed"),
        (found | ~(F.col("n") > thresh)).alias(
            "recovered_or_not_guaranteed"
        ),
        F.coalesce(
            F.col("mg_estimate") <= F.col("n"), F.lit(True)
        ).alias("never_overcounts"),
        F.coalesce(
            (F.col("n") - F.col("mg_estimate")) <= thresh, F.lit(True)
        ).alias("undercount_within_bound"),
    )
