"""Contract queries: corpus-cleaning + behavioral-analytics operators.

Round-2 additions on top of the dedup/text families:

- sub-document (segment-level) dedup — CCNet/RefinedWeb-style boilerplate
  detection that whole-document dedup misses;
- PII redaction (email/URL/IP/phone) as pure regexp column expressions;
- blocked fuzzy matching (record linkage via in-block Levenshtein);
- winsorized per-group robust statistics;
- multi-step funnel conversion (signup → click → purchase) over event time.

Oracle notes: every regex stays in the RE2 ∩ java.util.regex common
subset; DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
replace-all semantics; segment hashing uses md5 (bit-identical on both
engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.cleaning import (
    PII_PATTERNS,
    fuzzy_blocked_pairs,
    pii_counts,
    redact_pii,
    segment_dedup_stats,
    winsorized_stats,
)
from .core import register, _t

# --------------------------------------------------------------------------
# Segment-level corpus dedup
# --------------------------------------------------------------------------

_SEG_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
sg AS (
  SELECT doc_id,
         list_transform(
           range(0, cast(ceil(len(toks) / 10.0) AS INT)),
           i -> array_to_string(toks[(i*10+1):(i*10+10)], ' ')) AS segs
  FROM t
),
e AS (SELECT doc_id, md5(unnest(segs)) AS h FROM sg),
c AS (SELECT h, count(*) AS c FROM e GROUP BY h),
d AS (
  SELECT e.doc_id,
         count(*)                                        AS n_segments,
         cast(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS n_dup_segments
  FROM e JOIN c USING (h)
  GROUP BY e.doc_id
)
SELECT doc_id, n_segments, n_dup_segments,
       round(n_dup_segments * 1.0 / n_segments, 6)       AS dup_fraction,
       (n_dup_segments * 1.0 / n_segments) <= 0.5        AS keep
FROM d
"""


@register("doc_segment_dedup", oracle=_SEG_ORACLE)
def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: per-doc fraction of 10-token segments whose
    exact text recurs anywhere in the corpus (CCNet-style boilerplate
    removal). Segmentation is pure array lambdas (narrow); the corpus
    count shuffles 16-byte md5 keys, never segment text."""
    docs = _t(spark, sf_dir, "documents")
    return segment_dedup_stats(
        docs, id_col="doc_id", text_col="text", seg_tokens=10,
        max_dup_fraction=0.5,
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

_EMAIL, _URL, _IP, _PHONE = (p for _n, p, _t2 in PII_PATTERNS)

_PII_ORACLE = (
    """
WITH s AS (
  SELECT doc_id,
         concat_ws(' ', text,
           'contact user' || doc_id || '@example.com',
           'https://site' || doc_id || '.example.org/page?x=1',
           'host 10.0.' || (doc_id % 256) || '.25',
           'call +1 555-01' || lpad(cast(doc_id % 100 AS VARCHAR), 2, '0')
             || ' now') AS seeded
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(seeded, '"""
    + _EMAIL
    + """')) AS n_email,
       len(regexp_extract_all(seeded, '"""
    + _URL
    + """')) AS n_url,
       len(regexp_extract_all(seeded, '"""
    + _IP
    + """')) AS n_ip,
       len(regexp_extract_all(seeded, '"""
    + _PHONE
    + """')) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             seeded, '"""
    + _EMAIL
    + """', '<EMAIL>', 'g'), '"""
    + _URL
    + """', '<URL>', 'g'), '"""
    + _IP
    + """', '<IP>', 'g'), '"""
    + _PHONE
    + """', '<PHONE>', 'g')) AS redacted_md5
FROM s
"""
)


@register("doc_pii_redaction", oracle=_PII_ORACLE)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: seed each doc with deterministic synthetic PII (the
    corpus itself is clean word soup), then count matches per class and
    hash the redacted text. The whole pass is chained ``regexp_replace``
    / ``regexp_count`` column expressions — JVM-side, codegen, no UDF."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("contact user"), did.cast("string"),
                 F.lit("@example.com")),
        F.concat(F.lit("https://site"), did.cast("string"),
                 F.lit(".example.org/page?x=1")),
        F.concat(F.lit("host 10.0."), (did % 256).cast("string"),
                 F.lit(".25")),
        F.concat(F.lit("call +1 555-01"),
                 F.lpad((did % 100).cast("string"), 2, "0"), F.lit(" now")),
    )
    s = docs.select(did, seeded.alias("seeded"))
    return s.select(
        "doc_id",
        *pii_counts(F.col("seeded")),
        F.md5(redact_pii(F.col("seeded"))).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Blocked fuzzy matching (record linkage)
# --------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH k AS (
  SELECT lang || cast(n_chars // 16 AS VARCHAR) AS block,
         doc_id, substr(text, 1, 48) AS prefix
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.prefix, b.prefix) AS distance
FROM k a JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 20
"""


@register("doc_fuzzy_match_pairs", oracle=_FUZZY_ORACLE)
def doc_fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: Levenshtein near-matches computed only WITHIN
    (lang, length-bucket) blocks — the classic blocking-key bound on the
    quadratic term, riding the grouped-postings ``pair_up`` (one shuffle,
    one pipeline evaluation; the uncapped call keeps the DuckDB self-join
    oracle exact — the hot-block cap is unit-tested separately)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.floor(F.col("n_chars") / 16).cast("long").alias("len_bucket"),
    )
    return fuzzy_blocked_pairs(
        docs,
        block_cols=["lang", "len_bucket"],
        id_col="doc_id",
        text_col="text",
        prefix_len=48,
        max_distance=20,
        max_block_size=None,
    )


_FUZZY_CAPPED_ORACLE = """
WITH k AS (
  SELECT lang || cast(n_chars // 16 AS VARCHAR) AS block,
         doc_id, substr(text, 1, 48) AS prefix
  FROM documents
),
kept AS (
  SELECT block FROM k GROUP BY block HAVING count(*) <= 64
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.prefix, b.prefix) AS distance
FROM k a
JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
JOIN kept kt ON kt.block = a.block
WHERE levenshtein(a.prefix, b.prefix) <= 20
"""


@register("doc_fuzzy_match_pairs_capped", oracle=_FUZZY_CAPPED_ORACLE)
def doc_fuzzy_match_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``doc_fuzzy_match_pairs``: same blocking, same
    exact in-block Levenshtein, but blocks larger than ``max_block_size``
    (64 here) are DROPPED before pairing — the hot-block guard that turns
    the worst case from Σ c² (a single boilerplate block goes quadratic)
    into n_blocks · cap², bounded no matter how the corpus grows. Drops
    are whole-block (deterministic, unbiased within kept blocks) and
    observable via ``pair_up``'s Observation hook.

    The cap is pure relational algebra, so the oracle replicates it
    EXACTLY (HAVING count(*) <= cap) and every emitted pair is
    value-checked — a full hash oracle on the production-shaped plan, not
    a floor contract. At small scale no block exceeds the cap and the
    output equals the exact twin's; as blocks outgrow it, recall is
    traded for the bound — raise ``max_block_size`` (or tighten the
    blocking key) when completeness matters more than the ceiling."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.floor(F.col("n_chars") / 16).cast("long").alias("len_bucket"),
    )
    return fuzzy_blocked_pairs(
        docs,
        block_cols=["lang", "len_bucket"],
        id_col="doc_id",
        text_col="text",
        prefix_len=48,
        max_distance=20,
        max_block_size=64,
    )


# --------------------------------------------------------------------------
# Winsorized robust stats
# --------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type, least(greatest(e.value, b.lo), b.hi) AS cv,
         b.lo, b.hi
  FROM events e JOIN b USING (event_type)
)
SELECT event_type,
       count(*)                       AS n,
       round(min(lo), 6)              AS lo_bound,
       round(min(hi), 6)              AS hi_bound,
       round(avg(cv), 6)              AS winsorized_mean,
       round(stddev_samp(cv), 6)      AS winsorized_stddev
FROM c GROUP BY event_type
"""


@register("winsorized_value_stats", oracle=_WINSOR_ORACLE)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group stats: clamp to in-group p05/p95 then aggregate.
    The window pass and the agg share one hash partitioning on the group
    key — a single shuffle end-to-end."""
    ev = _t(spark, sf_dir, "events")
    return winsorized_stats(ev, "event_type", "value", lo=0.05, hi=0.95)


# --------------------------------------------------------------------------
# Multi-step funnel conversion
# --------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH s AS (
  SELECT user_id, min(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id
)
SELECT cast(s.t_signup AS DATE)                       AS cohort_day,
       count(*)                                       AS n_signup,
       count(c.user_id)                               AS n_click,
       count(p.user_id)                               AS n_purchase,
       round(count(c.user_id) * 1.0 / count(*), 6)    AS click_rate,
       round(count(p.user_id) * 1.0 / count(*), 6)    AS purchase_rate
FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY cast(s.t_signup AS DATE)
"""


@register("funnel_signup_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-step funnel (signup → click-after-signup →
    purchase-after-click) rolled up by signup cohort day. Each step is a
    min-timestamp agg keyed on user_id over a pushed-down event-type
    slice; each agg's output is per-user (bounded), so AQE broadcast-joins
    the step relations instead of shuffling the fact side again; the
    cohort rollup is the only re-key."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    funnel = s.join(c, "user_id", "left").join(p, "user_id", "left")
    return funnel.groupBy(
        F.to_date("t_signup").alias("cohort_day")
    ).agg(
        F.count("*").alias("n_signup"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
        F.round(F.count("t_click") / F.count("*"), 6).alias("click_rate"),
        F.round(F.count("t_purchase") / F.count("*"), 6).alias(
            "purchase_rate"
        ),
    )


# --------------------------------------------------------------------------
# SCD2 interval build + OHLC downsampling (warehouse temporal shapes)
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
g AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run
  FROM r
),
seg AS (
  SELECT user_id, run, event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM g GROUP BY user_id, run, event_type
)
SELECT user_id, event_type AS state,
       cast(row_number() OVER w2 AS BIGINT)  AS version,
       valid_from,
       lead(valid_from) OVER w2              AS valid_to,
       n_events,
       (lead(valid_from) OVER w2 IS NULL)    AS is_current
FROM seg
WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
"""


@register("scd2_user_state_history", oracle=_SCD2_ORACLE)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build over each user's event-type stream:
    consecutive identical states collapse into one validity interval;
    ``valid_to`` is the next interval's start (null = current). All
    windows + the agg ride one user_id partitioning — a single shuffle."""
    from ..operators.temporal import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    out = scd2_intervals(
        ev,
        key_cols=["user_id"],
        state_col="event_type",
        ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("version").cast("long").alias("version"),
        "valid_from",
        "valid_to",
        "n_events",
        "is_current",
    )


_OHLC_ORACLE = """
SELECT event_type,
       cast(floor(epoch(ts) / 21600) AS BIGINT)  AS bucket,
       arg_min(value, printf('%020d%020d', epoch_us(ts), event_id)) AS open,
       max(value)                                AS high,
       min(value)                                AS low,
       arg_max(value, printf('%020d%020d', epoch_us(ts), event_id)) AS close,
       count(*)                                  AS n,
       round(avg(value), 6)                      AS avg_value
FROM events
GROUP BY event_type, cast(floor(epoch(ts) / 21600) AS BIGINT)
"""


@register("ohlc_6h_bars", oracle=_OHLC_ORACLE)
def ohlc_6h_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling to 6-hour bars per event type: open/close ride
    mergeable min_by/max_by on a zero-padded (epoch_us, event_id) string
    key — one partial-aggregable pass, no window, no second shuffle."""
    from ..operators.temporal import ohlc_bars

    ev = _t(spark, sf_dir, "events")
    return ohlc_bars(
        ev,
        key_cols=["event_type"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        bucket_secs=21600,
    )


# --------------------------------------------------------------------------
# Data-quality constraint report (Deequ-style, one aggregation pass)
# --------------------------------------------------------------------------

_QUALITY_ORACLE = """
WITH m AS (
  SELECT
    count(DISTINCT event_id) * 1.0 / count(*)              AS event_id_unique,
    count(ts) * 1.0 / count(*)                             AS ts_complete,
    count(value) * 1.0 / count(*)                          AS value_complete,
    avg(CAST(event_type IN ('click','purchase','error','signup','view')
             AS DOUBLE))                                   AS event_type_domain,
    avg(CAST(value BETWEEN -100 AND 1000 AS DOUBLE))       AS value_in_range,
    CAST(count(*) AS DOUBLE)                               AS min_row_count,
    avg(CASE WHEN props IS NOT NULL
             THEN CAST(regexp_matches(props, '^\\{.*\\}$') AS DOUBLE)
        END)                                               AS props_json_shaped
  FROM events
),
r AS (
  SELECT 'event_id_unique' AS "constraint", event_id_unique AS metric,
         CAST(1.0 AS DOUBLE) AS threshold, '>=' AS direction FROM m
  UNION ALL SELECT 'ts_complete', ts_complete, CAST(1.0 AS DOUBLE), '>=' FROM m
  UNION ALL SELECT 'value_complete', value_complete, CAST(0.99 AS DOUBLE), '>=' FROM m
  UNION ALL SELECT 'event_type_domain', event_type_domain, CAST(1.0 AS DOUBLE), '>=' FROM m
  UNION ALL SELECT 'value_in_range', value_in_range, CAST(0.99 AS DOUBLE), '>=' FROM m
  UNION ALL SELECT 'min_row_count', min_row_count, CAST(100.0 AS DOUBLE), '>=' FROM m
  UNION ALL SELECT 'props_json_shaped', props_json_shaped, CAST(0.9 AS DOUBLE), '>=' FROM m
)
SELECT "constraint", round(metric, 6) AS metric, threshold,
       (CASE WHEN direction = '>=' THEN metric >= threshold
             ELSE metric <= threshold END) AS passed
FROM r
"""


@register("events_quality_report", oracle=_QUALITY_ORACLE)
def events_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: uniqueness, completeness, domain
    membership, range conformance, row-count floor, and JSON shape — ALL
    evaluated in one aggregation pass (one scan + one reduce however many
    constraints are declared), then unpivoted into a tidy report."""
    from ..operators.quality import (
        Constraint,
        check_constraints,
        completeness,
        in_range_fraction,
        in_set_fraction,
        matches_fraction,
        row_count,
        uniqueness,
    )

    ev = _t(spark, sf_dir, "events")
    checks = [
        Constraint("event_id_unique", uniqueness("event_id"), 1.0),
        Constraint("ts_complete", completeness("ts"), 1.0),
        Constraint("value_complete", completeness("value"), 0.99),
        Constraint(
            "event_type_domain",
            in_set_fraction(
                "event_type",
                ("click", "purchase", "error", "signup", "view"),
            ),
            1.0,
        ),
        Constraint(
            "value_in_range", in_range_fraction("value", -100, 1000), 0.99
        ),
        Constraint("min_row_count", row_count(), 100.0),
        Constraint(
            "props_json_shaped",
            matches_fraction("props", r"^\{.*\}$"),
            0.9,
        ),
    ]
    return check_constraints(ev, checks)


# --------------------------------------------------------------------------
# RAW multimodal decode — REAL pixel math with a closed-form oracle
# --------------------------------------------------------------------------

# Fabrication rule (operators/multimodal.py fabricate_raw_media):
# h = 16+id%16, w = 16+id%24, c = 3, pixel[i] = (id+i) % 256. The oracle
# predicts the decoded mean brightness in closed form: per 256-cycle the
# ramp sums to 32640; the partial tail is an arithmetic series split at
# the wrap point. If the numpy decode misreads a single byte, the means
# diverge — this checks REAL pixel decoding end-to-end, not a stub.
_RAW_DECODE_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 16 AS h,
         16 + doc_id % 24 AS w,
         doc_id % 256     AS s0
  FROM documents
),
m AS (
  SELECT media_id, h, w, h * w * 3 AS n, s0,
         (h * w * 3) // 256 AS cyc, (h * w * 3) % 256 AS r
  FROM t
)
SELECT media_id,
       CAST(w AS BIGINT)  AS width,
       CAST(h AS BIGINT)  AS height,
       CAST(3 AS BIGINT)  AS channels,
       CAST(n AS BIGINT)  AS n_pixels,
       (cyc * 32640 + CASE WHEN s0 + r <= 256
           THEN r * s0 + r * (r - 1) // 2
           ELSE (256 - s0) * s0 + (256 - s0) * (255 - s0) // 2
                + (r - 256 + s0) * (r - 256 + s0 - 1) // 2
       END) / n AS mean_brightness
FROM m
"""


@register("media_raw_decode", oracle=_RAW_DECODE_ORACLE)
def media_raw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode: fabricate RAW bitmap blobs (header + uint8
    pixel ramp) with numpy, then decode the actual bytes back — header
    parse, buffer reshape, exact float64 pixel means — through Arrow
    ``mapInPandas`` batches. The oracle predicts every decoded statistic
    in closed form, so a one-byte decode error fails the gate."""
    from ..operators.multimodal import (
        decode_raw_features,
        fabricate_raw_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_raw_media(docs, "doc_id", video=False)
    return decode_raw_features(media).drop("channel_means")


# Fabrication rule (operators/multimodal.py fabricate_pcm_media): mono,
# n = 256 + id%512 samples, rate = 8000 + (id%4)*4000, sample[i] =
# ((id*7 + i*3) % 2001) − 1000. The oracle REGENERATES every sample with
# range() and aggregates — integer sums are exact, doubles are IEEE
# divisions of exact integers on both engines, so a single misread byte
# in the numpy decode fails the gate.
_PCM_DECODE_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         256 + doc_id % 512 AS n,
         8000 + (doc_id % 4) * 4000 AS rate
  FROM documents
),
s AS (
  SELECT media_id, n, rate, unnest(range(0, n)) AS i FROM t
),
v AS (
  SELECT media_id, n, rate,
         ((media_id * 7 + i * 3) % 2001) - 1000 AS x
  FROM s
)
SELECT media_id,
       CAST(any_value(rate) AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT)               AS n_channels,
       CAST(any_value(n) AS BIGINT)    AS n_samples,
       CAST(any_value(n) AS DOUBLE) / CAST(any_value(rate) AS DOUBLE)
                                       AS duration_s,
       CAST(sum(x) AS DOUBLE) / CAST(any_value(n) AS DOUBLE)
                                       AS mean_amplitude,
       CAST(min(x) AS BIGINT)          AS min_amplitude,
       CAST(max(x) AS BIGINT)          AS max_amplitude,
       CAST(sum(x) AS BIGINT)          AS sum_amplitude,
       CAST(sum(x * x) AS BIGINT)      AS sum_sq
FROM v GROUP BY media_id
"""


@register("media_pcm_decode", oracle=_PCM_DECODE_ORACLE)
def media_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: fabricate RAW PCM blobs (header + int16 sample
    ramp) with numpy, decode the actual bytes back — header parse,
    big-endian int16 buffer, exact int64 waveform sums — through Arrow
    ``mapInPandas`` batches. The oracle regenerates the ramp in SQL and
    aggregates, so every statistic is predicted exactly."""
    from ..operators.multimodal import (
        decode_pcm_features,
        fabricate_pcm_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_pcm_media(docs, "doc_id")
    return decode_pcm_features(media)


_PCM_RESAMPLE_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         256 + doc_id % 512 AS n,
         8000 + (doc_id % 4) * 4000 AS rate
  FROM documents
),
s AS (
  SELECT media_id, n, rate, unnest(range(0, n, 2)) AS i FROM t
),
v AS (
  SELECT media_id, n, rate,
         ((media_id * 7 + i * 3) % 2001) - 1000 AS x
  FROM s
)
SELECT media_id,
       CAST(any_value(rate) // 2 AS BIGINT) AS sample_rate,
       CAST(count(*) AS BIGINT)             AS n_samples,
       CAST(sum(x) AS BIGINT)               AS sum_amplitude
FROM v GROUP BY media_id
"""


@register("media_pcm_resample", oracle=_PCM_RESAMPLE_ORACLE)
def media_pcm_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary→binary audio transform: fabricate PCM, decimate 2× (keep
    every 2nd frame, halve the header rate), re-encode, then DECODE THE
    RESAMPLED BYTES again — the oracle predicts the surviving samples'
    count/sum and the new rate from the fabrication ramp, checking both
    codec directions in one query."""
    from ..operators.multimodal import (
        decode_pcm_features,
        fabricate_pcm_media,
        resample_pcm,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_pcm_media(docs, "doc_id")
    out = decode_pcm_features(resample_pcm(media, factor=2))
    return out.select(
        "media_id", "sample_rate", "n_samples", "sum_amplitude"
    )


_RAW_FRAMES_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 16 AS h,
         16 + doc_id % 24 AS w,
         2 + doc_id % 4   AS f
  FROM documents
)
SELECT media_id,
       CAST(unnest(range(0, f, 2)) AS BIGINT) AS frame_idx,
       CAST(12 + h * w * 3 AS BIGINT)         AS frame_len
FROM t
"""


@register("media_raw_frame_samples", oracle=_RAW_FRAMES_ORACLE)
def media_raw_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame striding: fabricate multi-frame RAW containers,
    decode, keep every 2nd frame, re-encode each kept frame as a
    standalone RAW image. The oracle predicts the kept frame indices and
    each emitted blob's exact byte length (header + h·w·c)."""
    from ..operators.multimodal import fabricate_raw_media, sample_raw_frames

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_raw_media(docs, "doc_id", video=True)
    frames = sample_raw_frames(media, stride=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame_bytes").cast("long").alias("frame_len"),
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly detection + cohort retention
# --------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH w AS (
  SELECT event_id, event_type, ts, value,
         avg(value)  OVER pre AS mu,
         stddev_samp(value) OVER pre AS sd,
         count(*)    OVER pre AS n_prior
  FROM events
  WINDOW pre AS (PARTITION BY event_type ORDER BY epoch(ts)
                 RANGE BETWEEN 21600 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, value,
       round((value - mu) / sd, 4) AS zscore
FROM w
WHERE n_prior >= 5 AND sd > 0 AND abs((value - mu) / sd) > 3
"""


@register("rolling_zscore_anomalies", oracle=_ANOMALY_ORACLE)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly flagging in batch: each event's value is
    z-scored against the PRIOR 6 hours of its type (rangeBetween on event
    time, excluding the current row — no label leakage), flagging |z|>3
    with at least 5 prior observations. One window pass per type
    partition; the range frame keeps state bounded by the time horizon,
    the same shape a watermarked streaming agg maintains. Scale caveat:
    the partition key's cardinality bounds parallelism — for a
    low-cardinality key over a huge table, window per (key, calendar
    period) and stitch period boundaries, or run the streaming twin."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    sec = F.col("ts").cast("double")
    pre = (
        Window.partitionBy("event_type")
        .orderBy(sec)
        .rangeBetween(-21600, -1)
    )
    v = F.col("value")
    w = ev.select(
        "event_id",
        "event_type",
        v,
        F.avg(v).over(pre).alias("mu"),
        F.stddev_samp(v).over(pre).alias("sd"),
        F.count(F.lit(1)).over(pre).alias("n_prior"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        w.filter(
            (F.col("n_prior") >= 5) & (F.col("sd") > 0) & (F.abs(z) > 3)
        )
        .select(
            "event_id", "event_type", "value", F.round(z, 4).alias("zscore")
        )
    )


_RETENTION_ORACLE = """
WITH first_week AS (
  SELECT user_id,
         min(cast(floor(epoch(ts) / 604800) AS BIGINT)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         cast(floor(epoch(ts) / 604800) AS BIGINT) AS week
  FROM events
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size
  FROM first_week GROUP BY cohort_week
)
SELECT f.cohort_week,
       a.week - f.cohort_week                          AS week_offset,
       count(DISTINCT a.user_id)                       AS n_active,
       round(count(DISTINCT a.user_id) * 1.0 / s.cohort_size, 6)
                                                        AS retention_rate
FROM first_week f
JOIN activity a USING (user_id)
JOIN sizes s ON s.cohort_week = f.cohort_week
GROUP BY f.cohort_week, a.week - f.cohort_week, s.cohort_size
"""


@register("weekly_cohort_retention", oracle=_RETENTION_ORACLE)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by first-activity
    week, retention = distinct actives at each week offset over cohort
    size. Shape: a per-user min agg (partial-combining), a distinct
    projection, and the rollup — the cohort-size side is tiny and
    broadcast back."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    first = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    activity = ev.select("user_id", week.alias("week")).distinct()
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    joined = first.join(activity, "user_id").join(
        F.broadcast(sizes), "cohort_week"
    )
    return (
        joined.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "cohort_size",
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Join-cardinality estimation (accuracy contract)
# --------------------------------------------------------------------------

_JOINCARD_ORACLE = """
SELECT (SELECT count(*) FROM orders o JOIN lineitem l
        ON o.o_orderkey = l.l_orderkey)     AS exact_rows,
       TRUE                                 AS within_40pct
"""


@register("join_cardinality_estimate", oracle=_JOINCARD_ORACLE)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for pre-flight join-size estimation: the
    key-synchronized 10% sample's scaled estimate must land within ±40%
    of the exact orders⋈lineitem count (the oracle asserts the boolean;
    the exact count is cross-checked value-for-value). Universe sampling
    keeps matching keys on BOTH sides, so the estimate is unbiased at
    cost ~f of the join."""
    from ..operators.estimate import estimate_join_cardinality

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    est = estimate_join_cardinality(
        orders.select(F.col("o_orderkey").alias("k")),
        li.select(F.col("l_orderkey").alias("k")),
        "k",
        fraction=0.10,
    )
    exact = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).agg(F.count(F.lit(1)).alias("exact_rows"))
    return exact.crossJoin(est).select(
        "exact_rows",
        (
            (F.col("estimated_rows") >= F.col("exact_rows") * 0.6)
            & (F.col("estimated_rows") <= F.col("exact_rows") * 1.4)
        ).alias("within_40pct"),
    )


# --------------------------------------------------------------------------
# Aggregation-tree rollup reuse (daily from hourly partials)
# --------------------------------------------------------------------------

_ROLLUP_TREE_ORACLE = """
SELECT event_type,
       cast(ts AS DATE)         AS day,
       count(*)                 AS n_rows,
       round(sum(value), 2)     AS sum_value,
       min(value)               AS min_value,
       max(value)               AS max_value
FROM events
GROUP BY event_type, cast(ts AS DATE)
"""


@register("daily_rollup_from_hourly", oracle=_ROLLUP_TREE_ORACLE)
def daily_rollup_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-tree rollup reuse: the daily profile is computed by
    MERGING hourly mergeable partials, never re-touching raw rows — the
    materialized-rollup chain (raw → hourly → daily → monthly) that lets
    a 100 TB warehouse serve every coarser grain from the next finer one.
    The oracle aggregates raw directly: merged partials must be
    indistinguishable from a full recompute."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("value").alias("_sum"),
        F.min("value").alias("_min"),
        F.max("value").alias("_max"),
    )
    return (
        hourly.groupBy("event_type", F.to_date("hour").alias("day"))
        .agg(
            F.sum("_n").alias("n_rows"),
            F.round(F.sum("_sum"), 2).alias("sum_value"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# Approximate frequent items (freqItems accuracy contract)
# --------------------------------------------------------------------------

_FREQ_ORACLE = """
SELECT count(*) AS n_frequent_exact, TRUE AS all_found
FROM (
  SELECT event_type FROM events GROUP BY event_type
  HAVING count(*) >= 0.15 * (SELECT count(*) FROM events)
)
"""


@register("frequent_items_contract", oracle=_FREQ_ORACLE)
def frequent_items_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy contract for single-pass approximate frequent items
    (``DataFrame.freqItems``, the Karp-Shenker-Papadimitriou algorithm):
    the returned candidate set may contain false POSITIVES but never
    misses a truly frequent item — so every exact-frequent event type
    must appear in it. n_frequent_exact is cross-checked exactly."""
    ev = _t(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("_total"))
    exact = (
        ev.groupBy("event_type")
        .count()
        .crossJoin(F.broadcast(total))
        .filter(F.col("count") >= 0.15 * F.col("_total"))
        .agg(
            F.count(F.lit(1)).alias("n_frequent_exact"),
            F.sort_array(F.collect_list("event_type")).alias("_exact"),
        )
    )
    freq = ev.stat.freqItems(["event_type"], 0.15)
    return exact.crossJoin(freq).select(
        "n_frequent_exact",
        F.forall(
            "_exact",
            lambda x: F.array_contains(F.col("event_type_freqItems"), x),
        ).alias("all_found"),
    )


# --------------------------------------------------------------------------
# Incremental dedup vs a materialized LSH index (accuracy contract)
# --------------------------------------------------------------------------

_INCR_DEDUP_ORACLE = """
SELECT count(*) AS n_incoming, TRUE AS recall_floor_met
FROM documents WHERE doc_id % 50 = 0
"""


@register("incremental_dedup_contract", oracle=_INCR_DEDUP_ORACLE)
def incremental_dedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-dedup accuracy contract: materialize the corpus LSH index
    once, then match an incoming batch of near-copies (every 50th doc
    with one appended token) WITHOUT rescanning the corpus. Each
    incoming doc's true Jaccard to its source is >= 6/7, so with 8 bands
    of 4 hashes the per-doc miss probability is ~2e-4; the contract
    asserts >= 0.9 of sources are recovered (precision is exact by
    construction — candidates are verified with exact shingle Jaccard).
    """
    import tempfile

    from ..operators.dedup import dedup_incoming, materialize_lsh_index

    docs = _t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="lsh_contract_")
    idx, sets = f"{tmp}/index", f"{tmp}/sets"
    materialize_lsh_index(docs, idx, sets)
    incoming = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    matches = dedup_incoming(spark, incoming, idx, sets)
    self_hits = matches.filter(
        F.col("new_id") - 1_000_000 == F.col("corpus_id")
    ).agg(F.count_distinct("new_id").alias("_hits"))
    total = incoming.agg(F.count(F.lit(1)).alias("n_incoming"))
    return total.crossJoin(self_hits).select(
        "n_incoming",
        (F.col("_hits") >= F.col("n_incoming") * 0.9).alias(
            "recall_floor_met"
        ),
    )


# --------------------------------------------------------------------------
# ExactSubstr-style duplicate-span coverage (Lee et al. 2022)
# --------------------------------------------------------------------------

_DUP_SPAN_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(toks[i:(i+7)], ' ')) AS h
  FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS u(i)
),
dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
d AS (
  SELECT g.doc_id, g.pos,
         lag(pos)  OVER w AS prev,
         lead(pos) OVER w AS nxt
  FROM g JOIN dup USING (h)
  WINDOW w AS (PARTITION BY g.doc_id ORDER BY pos)
),
per AS (
  SELECT doc_id,
         count(*) AS n_dup_windows,
         sum(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
           AS n_spans,
         sum(least(8, coalesce(nxt - pos, 8))) AS covered_tokens
  FROM d GROUP BY doc_id
)
SELECT t.doc_id,
       cast(len(toks) AS BIGINT)                       AS n_tokens,
       cast(coalesce(per.n_dup_windows, 0) AS BIGINT)  AS n_dup_windows,
       cast(coalesce(per.n_spans, 0) AS BIGINT)        AS n_spans,
       cast(coalesce(per.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CASE WHEN len(toks) > 0
            THEN cast(coalesce(per.covered_tokens, 0) * 1000000
                      // len(toks) AS BIGINT)
            ELSE 0 END                                 AS dup_coverage_ppm
FROM t LEFT JOIN per USING (doc_id)
"""


@register("doc_duplicate_span_stats", oracle=_DUP_SPAN_ORACLE)
def doc_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span dedup statistics (Lee et al. 2022): per
    document, the fraction covered by 8-token windows repeated anywhere
    in the corpus, with duplicated windows merged into maximal spans —
    the repeated-fragment signal document-level dedup misses. The
    suffix-array construction is replaced by its distributed equivalent
    (rolling md5 windows + one hash groupBy + per-doc window merge);
    coverage ships as integer ppm so the gate compares exactly."""
    from ..operators.dedup import duplicate_span_stats

    d = _t(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", k=8)


# --------------------------------------------------------------------------
# Semantic (embedding-space) decontamination
# --------------------------------------------------------------------------

_SEM_DECON_ORACLE = """
WITH p AS (
  SELECT t.vec_id AS tid,
         round(list_cosine_similarity(t.embedding::DOUBLE[],
                                       v.embedding::DOUBLE[]), 6) AS c
  FROM embeddings t JOIN embeddings v
    ON (v.vec_id % 10 = 0) AND (t.vec_id % 10 <> 0)
)
SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 10 <> 0)
         AS n_train,
       (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
         AS n_eval,
       cast(count(DISTINCT tid) FILTER (WHERE c >= 0.45) AS BIGINT)
         AS n_contaminated,
       round(max(c), 6) AS max_cross_sim
FROM p
"""


@register("semantic_decontamination", oracle=_SEM_DECON_ORACLE)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag train vectors whose cosine
    to ANY eval vector (eval = every 10th id) clears a threshold — the
    pass that catches PARAPHRASED benchmark leakage, which exact 13-gram
    overlap (``doc_ngram_decontamination``) cannot see by construction.

    Scale shape: eval sets are SMALL by construction (benchmarks, not
    corpora), so the exact broadcast-eval form IS the production plan —
    each train row meets only the broadcast eval matrix, one narrow pass
    over the corpus, no self-join and no index build. Cosines are
    rounded-then-compared on both engines, so the flag is
    engine-portable. Threshold 0.45 is calibrated to this corpus'
    isotropic regime (max cross-sim ≈ 0.49 at sf0.01 — real embedding
    spaces cluster and would run at the usual 0.85-0.95)."""
    from ..operators.similarity import dot, norm

    e = _t(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("_evec"),
        norm(F.col("embedding")).alias("_en"),
    )
    tr = e.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("tid"),
        F.col("embedding").alias("_tvec"),
        norm(F.col("embedding")).alias("_tn"),
    )
    pairs = tr.crossJoin(F.broadcast(ev)).select(
        "tid",
        F.round(
            dot(F.col("_tvec"), F.col("_evec"))
            / (F.col("_tn") * F.col("_en")),
            6,
        ).alias("c"),
    )
    counts = e.agg(
        F.sum((F.col("vec_id") % 10 != 0).cast("long")).alias("n_train"),
        F.sum((F.col("vec_id") % 10 == 0).cast("long")).alias("n_eval"),
    )
    agg = pairs.agg(
        F.countDistinct(
            F.when(F.col("c") >= 0.45, F.col("tid"))
        ).alias("n_contaminated"),
        F.round(F.max("c"), 6).alias("max_cross_sim"),
    )
    return counts.crossJoin(F.broadcast(agg)).select(
        "n_train", "n_eval", "n_contaminated", "max_cross_sim"
    )


# --------------------------------------------------------------------------
# Direct n-gram decontamination (GPT-3/PaLM-style 13-gram overlap)
# --------------------------------------------------------------------------

_NGRAM_DECON_ORACLE = """
WITH t AS (
  SELECT doc_id,
         (doc_id % 10 = 0) AS is_eval,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, is_eval,
         md5(array_to_string(toks[i:(i+12)], ' ')) AS h
  FROM t, unnest(range(1, greatest(len(toks) - 12, 0) + 1)) AS u(i)
),
eval_grams AS (SELECT DISTINCT h FROM g WHERE is_eval),
flagged AS (
  SELECT DISTINCT g.doc_id
  FROM g JOIN eval_grams USING (h)
  WHERE NOT g.is_eval
)
SELECT (SELECT count(*) FROM t WHERE NOT is_eval)  AS n_train,
       (SELECT count(*) FROM t WHERE is_eval)      AS n_eval,
       (SELECT count(*) FROM flagged)              AS n_contaminated
"""


@register("doc_ngram_decontamination", oracle=_NGRAM_DECON_ORACLE)
def doc_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct 13-gram decontamination (the GPT-3/PaLM recipe): a train
    doc is contaminated if it shares ANY exact 13-token gram with any
    eval doc (here eval = every 10th doc). Grams ship as md5 hashes —
    16-byte shuffle keys — and the eval-gram side is tiny, so the
    overlap check is a broadcast semi-join against the train grams, not
    an all-pairs comparison. Complements the near-dup-based
    ``doc_cross_split_contamination`` (overlap ≠ similarity: one shared
    quote flags a doc even at low whole-doc Jaccard)."""
    from ..operators.text import tokens
    from ..operators.similarity import _spread

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    k = 13
    n_gram = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    # gram generation (tokenize + per-position array_join + md5) is the
    # query's whole cost and runs before any exchange — a single-file
    # scan would serialize it on one core (guide §2.5)
    grams_src = _spread(docs.select("doc_id", "text"))
    grams = grams_src.select(
        "doc_id",
        (F.col("doc_id") % 10 == 0).alias("is_eval"),
        F.explode(
            # sequence(1, 0) would generate a DESCENDING range for short
            # docs — emit an empty gram list instead
            F.when(
                n_gram >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_gram),
                    lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h"),
    )
    eval_grams = grams.filter("is_eval").select("h").distinct()
    flagged = (
        grams.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_grams), "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    base = docs.agg(
        F.sum((~(F.col("doc_id") % 10 == 0)).cast("long")).alias("n_train"),
        F.sum((F.col("doc_id") % 10 == 0).cast("long")).alias("n_eval"),
    )
    return base.crossJoin(
        flagged.agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: embedding clusters → survivors)
# --------------------------------------------------------------------------

_SEMANTIC_DEDUP_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]), 6) >= 0.44
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r2.r FROM edges e JOIN reach r2 ON e.dst = r2.node
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT v.vec_id, v.label
FROM embeddings v
WHERE NOT EXISTS (
  SELECT 1 FROM cc WHERE cc.node = v.vec_id AND cc.node <> cc.cluster_id
)
"""


def _semantic_pairs_bucketed(e) -> DataFrame:
    """The scale-path pair stage shared by the registered dedup query and
    its accuracy contract: k-means-cell bucketing (SemDeDup, Abbas et al.
    2023), exact cosine verification within cells only."""
    from ..operators.similarity import semantic_near_dup_pairs

    return semantic_near_dup_pairs(
        e,
        threshold=0.44,
        n_cells=16,
        n_probe=4,
        refine_iters=1,
        # hot-cell guard: a degenerate embedding-collapse cell is dropped
        # rather than paired quadratically (never hit on sane corpora —
        # cells are sized ~corpus/n_cells by construction)
        max_cell_size=100_000,
        # md5 seeding so the full oracle can rebuild the k-means cells
        # in SQL (xxhash64 stays the operator default)
        hash_fn="md5",
    ).select("id_a", "id_b")


def _semantic_dedup_survivors_oracle() -> str:
    """Full-value DuckDB replay of the BUCKETED semantic-dedup pipeline
    itself (round 8; previously rows-only on the claim that only the
    exact pipeline was SQL-expressible — the bucketed algorithm is too,
    once the k-means cells replay from md5 seeds): 1-round-refined
    cells (``llm_ops._kmeans_cents_cte``), every vector probes its top
    4 cells, the ``max_cell_size`` hot-cell guard is replicated as a
    HAVING filter (same pattern as the fuzzy-blocking cap oracle),
    within-cell pairs with rounded cosine ≥ 0.44 (the operator's
    GEMM-prefilter margin of 1e-3 cannot cut a pair that passes the
    exact rounded threshold, so prefilter+rescore ≡ the plain filter),
    transitive closure via a recursive CTE, and min-id survivors."""
    from .llm_ops import _kmeans_cents_cte

    return f"""
    WITH RECURSIVE {_kmeans_cents_cte(1)},
    probe AS (
      SELECT vec_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN c1 c
      ) WHERE rn <= 4),
    kept_cells AS (
      SELECT cell FROM probe GROUP BY cell HAVING count(*) <= 100000),
    pairs AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM probe a
      JOIN kept_cells k ON k.cell = a.cell
      JOIN probe b ON b.cell = a.cell AND a.vec_id < b.vec_id),
    edges AS (
      SELECT p.id_a AS src, p.id_b AS dst
      FROM pairs p
      JOIN v va ON va.vec_id = p.id_a
      JOIN v vb ON vb.vec_id = p.id_b
      WHERE round(list_cosine_similarity(va.raw, vb.raw), 6) >= 0.44
      UNION
      SELECT p.id_b, p.id_a
      FROM pairs p
      JOIN v va ON va.vec_id = p.id_a
      JOIN v vb ON vb.vec_id = p.id_b
      WHERE round(list_cosine_similarity(va.raw, vb.raw), 6) >= 0.44),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r2.r FROM edges e JOIN reach r2 ON e.dst = r2.node),
    cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
    SELECT emb.vec_id, emb.label
    FROM embeddings emb
    WHERE NOT EXISTS (
      SELECT 1 FROM cc
      WHERE cc.node = emb.vec_id AND cc.node <> cc.cluster_id
    )
    """


@register("semantic_dedup_survivors", oracle=_semantic_dedup_survivors_oracle())
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding space, registered
    on the BUCKETED pair stage (round-2 verdict: the exact O(n²) stage
    must not be the registered scale query): k-means cells → within-cell
    exact cosine pairs at 0.44 (the corpus' near-dup band) → transitive
    clusters via the distributed connected-components operator → keep
    the smallest-id member per cluster, dropping the rest through a
    broadcast anti-join on the (tiny) loser list. Pair cost is
    ``n_probe²·n²/n_cells`` with ``n_cells`` ∝ corpus size — the
    published recipe for semantic dedup at scale, where sign-bit LSH
    banding cannot reach the low cosine thresholds the method uses.
    Measured pair recall vs the exact baseline: 1.0 (sf0.001) / 0.955
    (sf0.01); floors pinned by semantic_dedup_accuracy_contract."""
    from ..operators.dedup import keep_canonical

    e = _t(spark, sf_dir, "embeddings")
    pairs = _semantic_pairs_bucketed(e)
    survivors = keep_canonical(
        e.withColumnRenamed("vec_id", "doc_id"), pairs, "doc_id"
    )
    return survivors.select(F.col("doc_id").alias("vec_id"), "label")


@register(
    "semantic_dedup_accuracy_contract",
    oracle="""
    SELECT 'semantic_cell' AS method,
           true AS no_false_positives,
           true AS pair_recall_floor_met,
           true AS survivor_agreement_floor_met
    """,
)
def semantic_dedup_accuracy_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-checked accuracy floors for the bucketed semantic-dedup
    scale path, against the exact O(n²) baseline (labeled, contract-only
    — the pattern the LSH/minhash families already use): (1) every
    bucketed pair is a true ≥0.44 pair (within-cell verification is
    exact, so false positives are impossible by construction — asserted
    anyway), (2) pair recall ≥ 0.9, (3) the survivor sets of the two
    pipelines agree on ≥ 98% of documents (a missed boundary pair can
    only split a cluster, never invent a false drop)."""
    from ..operators.dedup import keep_canonical
    from .llm_ops import embedding_near_dup_exact

    e = _t(spark, sf_dir, "embeddings")
    exact = (
        embedding_near_dup_exact(spark, sf_dir)
        .select("id_a", "id_b")
        .cache()
    )
    appr = _semantic_pairs_bucketed(e).cache()
    fp = appr.join(exact, ["id_a", "id_b"], "left_anti").agg(
        (F.count(F.lit(1)) == 0).alias("_fp_ok")
    )
    hits = appr.join(exact, ["id_a", "id_b"], "inner").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n"))
    ren = e.withColumnRenamed("vec_id", "doc_id")
    s_exact = keep_canonical(ren, exact, "doc_id").select(
        F.col("doc_id").alias("_ide")
    )
    s_appr = keep_canonical(ren, appr, "doc_id").select(
        F.col("doc_id").alias("_ida")
    )
    disagree = (
        s_exact.join(s_appr, F.col("_ide") == F.col("_ida"), "full_outer")
        .filter(F.col("_ide").isNull() | F.col("_ida").isNull())
        .agg(F.count(F.lit(1)).alias("_bad"))
    )
    n_docs = e.agg(F.count(F.lit(1)).alias("_docs"))
    return (
        fp.crossJoin(hits)
        .crossJoin(n_exact)
        .crossJoin(disagree)
        .crossJoin(n_docs)
        .select(
            F.lit("semantic_cell").alias("method"),
            F.col("_fp_ok").alias("no_false_positives"),
            (F.col("_hits") / F.col("_n") >= 0.9).alias(
                "pair_recall_floor_met"
            ),
            (F.col("_bad") / F.col("_docs") <= 0.02).alias(
                "survivor_agreement_floor_met"
            ),
        )
    )


# --------------------------------------------------------------------------
# Hashing-trick TF vectorization (model-free featurizer)
# --------------------------------------------------------------------------

_HASHING_TF_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(unnest(toks)), 1, 15)) AS BIGINT) % 64
           AS bucket
  FROM t
),
c AS (SELECT doc_id, bucket, count(*) AS n FROM e GROUP BY doc_id, bucket),
g AS (
  SELECT d.doc_id, i.i AS bucket, coalesce(c.n, 0) AS n
  FROM (SELECT DISTINCT doc_id FROM t) d
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
  LEFT JOIN c ON c.doc_id = d.doc_id AND c.bucket = i.i
)
SELECT doc_id,
       cast(sum(n) AS BIGINT)                       AS n_tokens,
       cast(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                                                    AS n_active_buckets,
       md5(string_agg(cast(n AS VARCHAR), ',' ORDER BY bucket)) AS tf_md5
FROM g GROUP BY doc_id
"""


@register("doc_hashing_tf", oracle=_HASHING_TF_ORACLE)
def doc_hashing_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency vectorization (HashingTF): tokens
    hash into 64 buckets (md5-derived so both engines agree), giving
    every doc a fixed-width count vector with NO vocabulary pass — the
    model-free featurizer that scales to any corpus because the
    'vocabulary' is the hash function. The dense vector is built with
    array lambdas (no per-doc pivot join); the oracle cross-checks token
    totals, active-bucket counts, and an md5 of the full vector."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
            "bigint"
        )
        % 64
    )
    counts = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # dense 64-wide vector per doc: collect (bucket, n) pairs and fill
    # misses with array lambdas — no 64-way pivot join
    vec = (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "n"))
            ).alias("_m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda i: F.coalesce(
                    F.element_at("_m", i.cast("bigint")), F.lit(0)
                ),
            ).alias("tf"),
        )
    )
    return vec.select(
        "doc_id",
        F.aggregate(
            "tf", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("n_tokens"),
        F.size(F.filter("tf", lambda x: x > 0))
        .cast("long")
        .alias("n_active_buckets"),
        F.md5(
            F.array_join(F.transform("tf", lambda x: x.cast("string")), ",")
        ).alias("tf_md5"),
    )


# --------------------------------------------------------------------------
# Session transition matrix (Markov counts over event paths)
# --------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       count(*)                                       AS n_transitions,
       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type), 6)
                                                      AS p_next
FROM o WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


@register("event_transition_matrix", oracle=_TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's ordered
    event path, normalized into per-source transition probabilities —
    the product-analytics 'what happens after X' matrix. One window pass
    on user_id, a tiny (types × types) agg, and a post-agg window for
    the row-normalization."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = o.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(total), 6
        ).alias("p_next"),
    )


# --------------------------------------------------------------------------
# Frequent event paths (ordered 3-step n-gram mining)
# --------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS path,
       count(*) AS n
FROM o WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path
LIMIT 20
"""


@register("frequent_event_paths", oracle=_PATHS_ORACLE)
def frequent_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered path mining: the top-20 most frequent 3-step event-type
    sequences across all users (sliding, not tumbling — every position
    starts a path). One window pass per user partition + a tiny
    (types³-bounded) agg + TakeOrderedAndProject."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        o.groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Snapshot diff (CDC-style added/removed/changed between two eras)
# --------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH a AS (
  SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
  FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id
),
b AS (
  SELECT user_id, count(*) AS n, round(sum(value), 2) AS sv
  FROM events WHERE ts < TIMESTAMP '2024-01-22' GROUP BY user_id
)
SELECT
  (SELECT count(*) FROM b WHERE user_id NOT IN (SELECT user_id FROM a))
    AS n_added,
  (SELECT count(*) FROM a WHERE user_id NOT IN (SELECT user_id FROM b))
    AS n_removed,
  (SELECT count(*) FROM a JOIN b USING (user_id)
   WHERE a.n <> b.n OR a.sv <> b.sv)                      AS n_changed,
  (SELECT count(*) FROM a JOIN b USING (user_id)
   WHERE a.n = b.n AND a.sv = b.sv)                       AS n_unchanged
"""


@register("snapshot_diff_users", oracle=_SNAPDIFF_ORACLE)
def snapshot_diff_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style diff between two snapshot eras of the per-user profile
    (cutoffs one week apart): keys added, removed, changed, unchanged.
    Both sides aggregate before diffing, so the comparison joins two
    per-key relations — never raw rows — and a full-outer join classifies
    every key in one pass."""
    ev = _t(spark, sf_dir, "events")

    def era(cutoff: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("sv"),
            )
        )

    a = era("2024-01-15").select(
        "user_id", F.col("n").alias("an"), F.col("sv").alias("asv")
    )
    b = era("2024-01-22").select(
        "user_id", F.col("n").alias("bn"), F.col("sv").alias("bsv")
    )
    j = a.join(b, "user_id", "full_outer")
    return j.agg(
        F.sum((F.col("an").isNull()).cast("long")).alias("n_added"),
        F.sum((F.col("bn").isNull()).cast("long")).alias("n_removed"),
        F.sum(
            (
                F.col("an").isNotNull()
                & F.col("bn").isNotNull()
                & ((F.col("an") != F.col("bn")) | (F.col("asv") != F.col("bsv")))
            ).cast("long")
        ).alias("n_changed"),
        F.sum(
            (
                F.col("an").isNotNull()
                & F.col("bn").isNotNull()
                & (F.col("an") == F.col("bn"))
                & (F.col("asv") == F.col("bsv"))
            ).cast("long")
        ).alias("n_unchanged"),
    )


# --------------------------------------------------------------------------
# Text normalization (control chars, zero-width, whitespace, punct runs)
# --------------------------------------------------------------------------

_NORMALIZE_ORACLE = """
WITH s AS (
  SELECT doc_id,
         text || chr(9) || ' x' || chr(11) || 'y  z!!!' AS dirty
  FROM documents
),
n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
           dirty,
           '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
           '!{3,}', '!!', 'g'),
           '\\?{3,}', '??', 'g'),
           '\\.{3,}', '..', 'g'),
           ',{3,}', ',,', 'g'),
           '\\s+', ' ', 'g')) AS clean
  FROM s
)
SELECT doc_id, md5(clean) AS clean_md5, length(clean) AS clean_len
FROM n
"""


@register("doc_text_normalize", oracle=_NORMALIZE_ORACLE)
def doc_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleanup: strip control characters (keeping tab/LF
    as whitespace to collapse), cap runs of repeated punctuation at two,
    collapse whitespace, trim. The dirt is seeded deterministically
    (tab, vertical-tab, doubled spaces, a '!!!' run) so the oracle
    replays the exact same pipeline; patterns stay in the RE2 ∩ Java
    common subset — run caps are per-character because RE2 has no
    backreferences."""
    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit("\t x\x0by  z!!!"),
    )
    out = F.regexp_replace(
        dirty, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""
    )
    # explicit per-char run caps — RE2 (the oracle's engine) has no
    # backreferences, so '([!?.,])\1{2,}' is not portable
    for pat, repl in (
        (r"!{3,}", "!!"),
        (r"\?{3,}", "??"),
        (r"\.{3,}", ".."),
        (r",{3,}", ",,"),
    ):
        out = F.regexp_replace(out, pat, repl)
    clean = F.trim(F.regexp_replace(out, r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


# --------------------------------------------------------------------------
# Funnel latency percentiles + DAU/WAU stickiness
# --------------------------------------------------------------------------

_LATENCY_ORACLE = """
WITH s AS (
  SELECT user_id, min(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         epoch_us(min(e.ts)) - epoch_us(s.t_signup) AS us
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts >= s.t_signup
  GROUP BY e.user_id, s.t_signup
)
SELECT count(*)                            AS n_converted,
       round(median(us), 4)                AS median_us,
       round(quantile_cont(us, 0.90), 4)   AS p90_us
FROM p
"""


@register("funnel_time_to_convert", oracle=_LATENCY_ORACLE)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: per converting user, seconds from
    first signup to first subsequent purchase, reduced to median/p90
    hours — the funnel's 'how long' companion to its 'how many' rates.
    Two min-ts aggs on user_id and one global percentile reduce."""
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id", "t_signup")
        .agg(F.min("ts").alias("t_purchase"))
        .select(
            (
                F.unix_micros("t_purchase") - F.unix_micros("t_signup")
            ).alias("us")
        )
    )
    # latency stays in integer MICROSECONDS: unix_timestamp would truncate
    # the sub-second part the oracle's epoch keeps, and a post-hoc unit
    # division can land the 4-digit round on a half-ulp boundary (both
    # observed); percentile interpolation over identical integers is
    # bit-identical across engines
    return p.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.median("us"), 4).alias("median_us"),
        F.round(F.percentile("us", 0.90), 4).alias("p90_us"),
    )


_STICKINESS_ORACLE = """
WITH d AS (
  SELECT cast(ts AS DATE) AS day, count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
),
w AS (
  SELECT cast(floor(epoch(ts) / 604800) AS BIGINT) AS week,
         count(DISTINCT user_id) AS wau
  FROM events GROUP BY 1
)
SELECT d.day,
       d.dau,
       w.wau,
       round(d.dau * 1.0 / w.wau, 6) AS stickiness
FROM d JOIN w ON cast(floor(epoch(cast(d.day AS TIMESTAMP)) / 604800)
                 AS BIGINT) = w.week
"""


@register("dau_wau_stickiness", oracle=_STICKINESS_ORACLE)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness: daily active users over their week's weekly
    actives (the DAU/WAU ratio) — two distinct-count aggs joined on the
    day's epoch week; the weekly side is tiny and broadcasts."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    w = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week")
    ).agg(F.count_distinct("user_id").alias("wau"))
    keyed = d.withColumn(
        "week",
        F.floor(
            F.unix_timestamp(F.col("day").cast("timestamp")) / 604800
        ).cast("long"),
    )
    return (
        keyed.join(F.broadcast(w), "week")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


# ---------------------------------------------------------------------------
# Warehouse integrity + MDM survivorship (round-2, second batch)
# ---------------------------------------------------------------------------

@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.orderkey->orders' AS relation,
           (SELECT count(*) FROM lineitem) AS n_child_rows,
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE l.l_partkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.suppkey->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE l.l_suppkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE c.c_nationkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
            WHERE s.s_nationkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
            WHERE n.n_regionkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema FK audit in one job: every parent→child relation of
    the TPC-H-ish schema checked with key-pruned LeftAnti joins (small
    parents broadcast), one summary row each. The all-zero orphan result
    is the point — the audit proves integrity; a broken load would
    surface here before any downstream join silently dropped rows."""
    from ..operators.quality import fk_orphan_audit

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return fk_orphan_audit(
        [
            ("lineitem.orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.partkey->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem.suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey"),
            ("orders.custkey->customer", orders, "o_custkey", customer, "c_custkey"),
            ("customer.nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
            ("supplier.nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
            ("nation.regionkey->region", nation, "n_regionkey", region, "r_regionkey"),
        ]
    )


@register(
    "golden_user_profile",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_type,
             CASE WHEN event_type <> 'error' THEN value END AS value,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS _seq
      FROM events
    )
    SELECT user_id,
           max_by(value, CASE WHEN value IS NOT NULL THEN _seq END)
             AS last_value,
           max_by(event_type, CASE WHEN event_type IS NOT NULL THEN _seq END)
             AS last_event_type,
           min_by(ts, _seq) AS first_ts,
           max(value) AS max_value,
           round(sum(value), 6) AS lifetime_value
    FROM e GROUP BY user_id
    """,
)
def golden_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship merge: collapse each user's event records into
    one golden profile under per-field rules — freshest-non-null for
    state fields (error events carry no value, so the rule back-fills
    from the latest non-error row), earliest for provenance, max/sum for
    lifetime counters. ONE hash aggregation (max_by/min_by argmax with a
    null-guarded key), no window, no self-join. The sequence key is a
    fixed-width epoch||id string so both engines order identically."""
    from ..operators.cleaning import survivorship_merge

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("_seq"),
    )
    ev = ev.withColumn("max_value", F.col("value")).withColumn(
        "lifetime_value", F.col("value")
    )
    merged = survivorship_merge(
        ev,
        key_cols=["user_id"],
        seq_col="_seq",
        rules={
            "value": "latest_non_null",
            "event_type": "latest_non_null",
            "ts": "earliest",
            "max_value": "max",
            "lifetime_value": "sum",
        },
    )
    return merged.select(
        "user_id",
        F.col("value").alias("last_value"),
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("first_ts"),
        "max_value",
        F.round("lifetime_value", 6).alias("lifetime_value"),
    )


@register(
    "doc_quality_classifier_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(unnest(toks)), 1, 15)) AS BIGINT) % 64
               AS bucket
      FROM t
    ),
    c AS (SELECT doc_id, bucket, count(*) AS n FROM e GROUP BY doc_id, bucket),
    z AS (
      SELECT doc_id,
             sum(n * (((bucket * 2654435761) % 4096) / 4096.0 - 0.5))
               / sum(n) - 0.05 AS logit
      FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           round(logit, 6) AS logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS quality_score,
           round(1.0 / (1.0 + exp(-logit)), 6) > 0.5 AS keep
    FROM z
    """,
)
def doc_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style linear quality classifier scored ENTIRELY in-plan:
    hashed-bucket term frequencies × a broadcast weight vector →
    length-normalized logit → sigmoid → keep flag. The weight per bucket
    is a deterministic integer-hash expression here (a stand-in for real
    trained weights — which would arrive as a broadcast 64-float map and
    change nothing about the plan). Cost: one token explode + two grouped
    sums — no UDF, no dense-vector materialization, no model server. The
    keep flag compares the ROUNDED score so engines cannot disagree at
    the 0.5 boundary."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
        % 64
    )
    weight = ((F.col("bucket") * F.lit(2654435761)) % 4096) / F.lit(
        4096.0
    ) - F.lit(0.5)
    c = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    z = c.groupBy("doc_id").agg(
        (
            F.sum(F.col("n") * weight) / F.sum("n") - F.lit(0.05)
        ).alias("logit")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
    return z.select(
        "doc_id",
        F.round("logit", 6).alias("logit"),
        F.round(score, 6).alias("quality_score"),
        (F.round(score, 6) > 0.5).alias("keep"),
    )


@register(
    "doc_unigram_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    e AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    v AS (SELECT tok, count(*) AS n FROM e GROUP BY tok),
    tot AS (SELECT sum(n)::DOUBLE AS total FROM v)
    SELECT e.doc_id,
           count(*) AS n_tokens,
           round(avg(ln(v.n / tot.total)), 6) AS avg_logprob
    FROM e JOIN v ON e.tok = v.tok CROSS JOIN tot
    GROUP BY e.doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability per document — the SQL-exact core of
    perplexity filtering (CCNet-style quality gating scores documents by
    LM likelihood; the unigram model is the declarative proxy and the
    calibration baseline for it). Two aggregations on the token key (the
    corpus LM and the per-doc average share the exploded relation) and
    one scalar broadcast — at corpus scale the vocabulary relation is
    Zipf-skewed but the join is a plain shuffled equi-join on the token,
    with AQE skew splitting covering the head words."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    e = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    v = e.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = v.agg(F.sum("n").cast("double").alias("total"))
    return (
        e.join(v, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("n") / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


@register(
    "entity_resolution_golden_docs",
    oracle="""
    WITH RECURSIVE k AS (
      SELECT lang || cast(n_chars // 16 AS VARCHAR) AS block,
             doc_id, substr(text, 1, 48) AS prefix
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM k a JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE levenshtein(a.prefix, b.prefix) <= 20
    ),
    cc_edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM cc_edges
      UNION
      SELECT ce.src, r2.r FROM cc_edges ce JOIN reach r2 ON ce.dst = r2.node
    ),
    cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    lab AS (
      SELECT d.doc_id, d.n_chars,
             coalesce(cc.cluster_id, d.doc_id) AS entity_id
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    )
    SELECT entity_id,
           cast(count(*) AS BIGINT) AS n_members,
           max_by(doc_id, lpad(cast(n_chars AS VARCHAR), 12, '0') ||
                          lpad(cast(doc_id AS VARCHAR), 12, '0'))
             AS canonical_doc_id,
           cast(sum(n_chars) AS BIGINT) AS total_chars
    FROM lab GROUP BY entity_id
    """,
)
def entity_resolution_golden_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy matching → transitive
    closure (connected components) → golden-record selection per entity
    (longest member wins, id as tiebreak, encoded in a fixed-width
    argmax key). Unmatched documents are their own entity (left join +
    coalesce, the canonical-keep pattern). This is the MDM pipeline
    composed from three already-verified operators — the contract pins
    the COMPOSITION, which is where key/column mismatches hide."""
    from ..operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        "n_chars",
        F.floor(F.col("n_chars") / 16).cast("long").alias("len_bucket"),
    )
    pairs = fuzzy_blocked_pairs(
        docs,
        block_cols=["lang", "len_bucket"],
        id_col="doc_id",
        text_col="text",
        prefix_len=48,
        max_distance=20,
        max_block_size=None,
    )
    cc = connected_components(pairs)
    lab = (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "entity_id"
            ),
        )
    )
    key = F.concat(
        F.lpad(F.col("n_chars").cast("string"), 12, "0"),
        F.lpad(F.col("doc_id").cast("string"), 12, "0"),
    )
    return lab.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by("doc_id", key).alias("canonical_doc_id"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "purchases_with_state_asof",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR event_type <> lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    g AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM r
    ),
    seg AS (
      SELECT user_id, run, event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM g GROUP BY user_id, run, event_type
    ),
    dim AS (
      SELECT user_id, event_type AS state, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from) AS valid_to
      FROM seg
    ),
    buys AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT b.event_id, b.user_id, b.ts,
           d.state AS prior_state, d.valid_from AS prior_state_since
    FROM buys b LEFT JOIN dim d
      ON b.user_id = d.user_id
     AND d.valid_from < b.ts
     AND (d.valid_to IS NULL OR b.ts <= d.valid_to)
    """,
)
def purchases_with_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball temporal dimension lookup: each purchase is enriched with
    the SCD2 state interval covering the INSTANT BEFORE it (``ts − ε``,
    i.e. valid_from < ts ≤ valid_to) — what the user was doing as they
    converted. Composes the SCD2 build with an interval-predicate join;
    a user's first-ever event finds no prior interval and keeps nulls
    (LEFT join). At warehouse scale the dimension side is orders of
    magnitude smaller than the fact side and pre-partitioned on the same
    key, so the join costs one co-partitioned shuffle."""
    from ..operators.temporal import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    dim = scd2_intervals(
        ev,
        key_cols=["user_id"],
        state_col="event_type",
        ts_col="ts",
        tiebreak_cols=["event_id"],
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("prior_state"),
        F.col("valid_from"),
        F.col("valid_to"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    cond = (
        (buys["user_id"] == dim["d_user"])
        & (dim["valid_from"] < buys["ts"])
        & (dim["valid_to"].isNull() | (buys["ts"] <= dim["valid_to"]))
    )
    return buys.join(dim, cond, "left").select(
        "event_id",
        "user_id",
        "ts",
        "prior_state",
        F.col("valid_from").alias("prior_state_since"),
    )


@register(
    "doc_global_text_rank",
    oracle="""
    SELECT doc_id,
           cast(row_number() OVER (ORDER BY lower(text), doc_id) AS BIGINT)
             AS rank
    FROM documents
    """,
)
def doc_global_text_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order global ranking WITHOUT the single-partition window
    cliff: range-partition on the sort key, rank within partitions in
    parallel, add per-partition prefix-sum offsets back via a broadcast
    join (operators/rank.py global_rank — the two-pass MPP pattern).
    The oracle is the naive global row_number, which is exactly what the
    distributed form must reproduce."""
    from ..operators.rank import global_rank

    d = _t(spark, sf_dir, "documents")
    return global_rank(
        d.select("doc_id", F.lower("text").alias("_k")),
        [F.col("_k").asc(), F.col("doc_id").asc()],
    ).select("doc_id", "rank")


@register(
    "snm_candidate_pairs",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY lower(substr(text, 1, 32)), doc_id)
               AS rk
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           cast(b.rk - a.rk AS BIGINT) AS rank_gap
    FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk < 4
    """,
)
def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo): candidate pairs
    within a 4-row window of the global sort on a 32-char text prefix —
    the ER blocking strategy that catches near-miss keys hash blocks
    split apart. Rank buckets make pair generation two equi-joins (same
    bucket + adjacent bucket), and the global rank itself is the
    distributed two-pass form — nothing here funnels through one
    partition."""
    from ..operators.rank import sorted_neighbor_pairs

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 32)).alias("_k")
    )
    return sorted_neighbor_pairs(
        d, "doc_id", [F.col("_k").asc(), F.col("doc_id").asc()], window=4
    )


@register(
    "source_length_ks",
    oracle="""
    WITH lens AS (SELECT DISTINCT n_chars FROM documents),
    srcs AS (SELECT source, count(*)::DOUBLE AS n_src FROM documents
             GROUP BY source),
    corpus AS (
      SELECT n_chars,
             sum(count(*)) OVER (ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING)::DOUBLE
               / (SELECT count(*) FROM documents) AS f_corpus
      FROM documents GROUP BY n_chars
    ),
    sl AS (
      SELECT source, n_chars, count(*)::DOUBLE AS c
      FROM documents GROUP BY source, n_chars
    ),
    grid AS (
      SELECT s.source, s.n_src, l.n_chars,
             coalesce(sl.c, 0.0) AS c
      FROM srcs s CROSS JOIN lens l
      LEFT JOIN sl ON sl.source = s.source AND sl.n_chars = l.n_chars
    ),
    ecdf AS (
      SELECT g.source, g.n_chars,
             sum(g.c) OVER (PARTITION BY g.source ORDER BY g.n_chars
                            ROWS UNBOUNDED PRECEDING) / g.n_src AS f_src,
             c2.f_corpus
      FROM grid g JOIN corpus c2 ON c2.n_chars = g.n_chars
    )
    SELECT source, round(max(abs(f_src - f_corpus)), 6) AS ks_stat
    FROM ecdf GROUP BY source
    """,
)
def source_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic per source: the max
    ECDF gap between each source's document-length distribution and the
    corpus — the standard nonparametric drift detector (a feed whose
    length profile shifts shows up here before any quality metric
    moves). The length grid is the DISTINCT observed lengths (a small
    relation; bucketize lengths at corpus scale), so every window and
    join runs over contingency-sized data — the raw table is read once
    for three aggregations."""
    docs = _t(spark, sf_dir, "documents")
    lens = docs.select("n_chars").distinct()
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_src")
    )
    total = docs.count()
    corpus = (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "f_corpus",
            F.sum("c").over(
                Window.orderBy("n_chars").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ).cast("double")
            / F.lit(float(total)),
        )
        .select("n_chars", "f_corpus")
    )
    sl = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    grid = (
        srcs.crossJoin(lens)
        .join(sl, ["source", "n_chars"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0.0)))
    )
    f_src = F.sum("c").over(
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    ) / F.col("n_src")
    ecdf = grid.withColumn("f_src", f_src).join(
        F.broadcast(corpus), "n_chars"
    )
    return ecdf.groupBy("source").agg(
        F.round(F.max(F.abs(F.col("f_src") - F.col("f_corpus"))), 6).alias(
            "ks_stat"
        )
    )


@register("doc_compression_ratio")  # rows-only: SQL cannot run DEFLATE
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal per document (low =
    repetitive boilerplate). Real stdlib kernel through an Arrow-batched
    pandas UDF; bounds pinned by doc_compression_contract below and
    ordering invariants in tests/test_cleaning.py."""
    from ..operators.cleaning import compression_ratio

    d = _t(spark, sf_dir, "documents")
    return compression_ratio(d, "doc_id", "text")


@register(
    "doc_compression_contract",
    oracle="""
    SELECT true AS all_ratios_positive,
           true AS all_within_expansion_bound,
           true AS covers_all_nonempty_docs
    """,
)
def doc_compression_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked floors for the rows-only compression-ratio signal:
    every non-empty doc gets a positive ratio within DEFLATE's worst-case
    expansion bound — compressed ≤ raw + 11-byte header/trailer + 5 bytes
    per 16 KiB stored block (a tiny doc legitimately expands: 11 bytes of
    overhead on 2 chars is ratio ~6, so the bound must be per-doc, not a
    global constant) — and coverage equals the non-empty doc count."""
    from ..operators.cleaning import compression_ratio

    d = _t(spark, sf_dir, "documents")
    r = compression_ratio(d, "doc_id", "text")
    scored = r.filter(F.col("compression_ratio").isNotNull())
    bound = (
        F.col("raw_bytes")
        + F.lit(11)
        + F.ceil(F.col("raw_bytes") / 16384) * 5
    ) / F.col("raw_bytes")
    excess = F.col("compression_ratio") - bound
    return (
        scored.agg(
            F.min("compression_ratio").alias("_mn"),
            F.max(excess).alias("_worst_excess"),
            F.count(F.lit(1)).alias("_n"),
        )
        .crossJoin(
            d.filter(F.octet_length("text") > 0).agg(
                F.count(F.lit(1)).alias("_expected")
            )
        )
        .select(
            (F.col("_mn") > 0.0).alias("all_ratios_positive"),
            (F.col("_worst_excess") <= 0.0).alias(
                "all_within_expansion_bound"
            ),
            (F.col("_n") == F.col("_expected")).alias(
                "covers_all_nonempty_docs"
            ),
        )
    )


@register(
    "fellegi_sunter_match_scores",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars // 100 AS chb,
             substr(text, 1, 12) AS p12, substr(text, 25, 8) AS m8,
             n_chars
      FROM documents
    ), blocks AS (
      SELECT lang, source, chb, count(*) AS bc FROM d GROUP BY 1, 2, 3
    ), dd AS (
      SELECT d.* FROM d JOIN blocks USING (lang, source, chb)
      WHERE bc BETWEEN 2 AND 200
    ), stats AS (SELECT count(*) AS nn FROM d),
    u AS (
      SELECT
        CAST(greatest((SELECT sum(c*(c-1)) FROM
          (SELECT p12, count(*) AS c FROM d GROUP BY 1)), 1) AS DOUBLE)
          / CAST((SELECT nn*(nn-1) FROM stats) AS DOUBLE) AS u1,
        CAST(greatest((SELECT sum(c*(c-1)) FROM
          (SELECT m8, count(*) AS c FROM d GROUP BY 1)), 1) AS DOUBLE)
          / CAST((SELECT nn*(nn-1) FROM stats) AS DOUBLE) AS u2,
        CAST(greatest((SELECT sum(c*(c-1)) FROM
          (SELECT n_chars, count(*) AS c FROM d GROUP BY 1)), 1) AS DOUBLE)
          / CAST((SELECT nn*(nn-1) FROM stats) AS DOUBLE) AS u3
    ), scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.p12 = b.p12         AS agree_prefix,
             a.m8 = b.m8           AS agree_mid,
             a.n_chars = b.n_chars AS agree_len,
             round(
               (CASE WHEN a.p12 = b.p12 THEN ln(0.9 / u1)
                     ELSE ln(0.1 / (1.0 - u1)) END)
             + (CASE WHEN a.m8 = b.m8 THEN ln(0.85 / u2)
                     ELSE ln(0.15 / (1.0 - u2)) END)
             + (CASE WHEN a.n_chars = b.n_chars THEN ln(0.75 / u3)
                     ELSE ln(0.25 / (1.0 - u3)) END), 4) + 0.0 AS score
      FROM dd a
      JOIN dd b ON a.lang = b.lang AND a.source = b.source
               AND a.chb = b.chb AND a.doc_id < b.doc_id
      CROSS JOIN u
    )
    SELECT *, score > 0 AS is_match FROM scored
    """,
)
def fellegi_sunter_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (the Splink/JaroW
    family): blocked candidate pairs scored by summed log-likelihood
    field weights — agreement on field f contributes ln(m_f/u_f),
    disagreement ln((1−m_f)/(1−u_f)) — and classified by the score sign.
    The u-probabilities (chance agreement between NON-matches) are
    ESTIMATED FROM THE DATA as the exact random-pair collision
    probability Σ n_v(n_v−1) / N(N−1) per field (one hash agg each — the
    standard u-estimation shortcut, since non-matches dominate random
    pairs); m-probabilities are fixed priors (0.9/0.85/0.75 by field
    reliability). Blocking on (lang, source, len-bucket) bounds the pair
    stage via the grouped-postings generator with a hot-block cap of 200
    (mirrored in the oracle), so the quadratic term is per-block, never
    corpus-wide. Every weight is a single division of exact integer
    counts — no float-sum nondeterminism anywhere before the final
    rounded score."""
    from ..operators.dedup import pair_up

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("long").alias("chb"),
        F.substring("text", 1, 12).alias("p12"),
        F.substring("text", 25, 8).alias("m8"),
        "n_chars",
    )

    def collision_mass(col: str, alias: str):
        return (
            d.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.greatest(
                    F.sum(F.col("c") * (F.col("c") - 1)),
                    F.lit(1).cast("long"),
                ).alias(alias)
            )
        )

    nn = d.agg(F.count(F.lit(1)).alias("nn"))
    den = (F.col("nn") * (F.col("nn") - 1)).cast("double")
    u = (
        collision_mass("p12", "n1")
        .crossJoin(collision_mass("m8", "n2"))
        .crossJoin(collision_mass("n_chars", "n3"))
        .crossJoin(nn)
        .select(
            (F.col("n1").cast("double") / den).alias("u1"),
            (F.col("n2").cast("double") / den).alias("u2"),
            (F.col("n3").cast("double") / den).alias("u3"),
        )
    )
    pairs = pair_up(
        d,
        ["lang", "source", "chb"],
        ["doc_id", "p12", "m8", "n_chars"],
        max_bucket_size=200,
    ).crossJoin(F.broadcast(u))
    agree_p = F.col("a.p12") == F.col("b.p12")
    agree_m = F.col("a.m8") == F.col("b.m8")
    agree_l = F.col("a.n_chars") == F.col("b.n_chars")
    score = F.round(
        F.when(agree_p, F.log(F.lit(0.9) / F.col("u1"))).otherwise(
            F.log(F.lit(0.1) / (F.lit(1.0) - F.col("u1")))
        )
        + F.when(agree_m, F.log(F.lit(0.85) / F.col("u2"))).otherwise(
            F.log(F.lit(0.15) / (F.lit(1.0) - F.col("u2")))
        )
        + F.when(agree_l, F.log(F.lit(0.75) / F.col("u3"))).otherwise(
            F.log(F.lit(0.25) / (F.lit(1.0) - F.col("u3")))
        ),
        4,
    ) + F.lit(0.0)
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        agree_p.alias("agree_prefix"),
        agree_m.alias("agree_mid"),
        agree_l.alias("agree_len"),
        score.alias("score"),
        (score > 0).alias("is_match"),
    )


@register(
    "classifier_auc_eval",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(unnest(toks)), 1, 15)) AS BIGINT) % 64
               AS bucket
      FROM t
    ),
    c AS (SELECT doc_id, bucket, count(*) AS n FROM e GROUP BY doc_id, bucket),
    z AS (
      SELECT doc_id,
             sum(n * (((bucket * 2654435761) % 4096) / 4096.0 - 0.5))
               / sum(n) - 0.05 AS logit
      FROM c GROUP BY doc_id
    ),
    scored AS (
      SELECT z.doc_id,
             round(round(1.0 / (1.0 + exp(-z.logit)), 6), 4) AS s4,
             (d.lang = 'en')::INT AS pos
      FROM z JOIN documents d ON d.doc_id = z.doc_id
    ),
    bins AS (
      SELECT s4, count(*) AS n_s, sum(pos) AS pos_s
      FROM scored GROUP BY s4
    ),
    ranked AS (
      SELECT s4, n_s, pos_s,
             coalesce(sum(n_s) OVER (ORDER BY s4
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      FROM bins
    )
    SELECT CAST(sum(pos_s) AS BIGINT)         AS n_pos,
           CAST(sum(n_s - pos_s) AS BIGINT)   AS n_neg,
           round(
             CAST(sum(pos_s * (2*cum + n_s + 1))
                  - sum(pos_s) * (sum(pos_s) + 1) AS DOUBLE)
             / CAST(2 * sum(pos_s) * sum(n_s - pos_s) AS DOUBLE),
             6) AS auc
    FROM ranked
    """,
)
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the in-plan quality classifier against a binary label
    (lang = 'en'), computed by the BINNED rank-sum identity — the way
    AUC is actually evaluated at corpus scale. Scores quantize to 4
    decimals (≤ 10⁴ bins for any corpus size), one hash agg collects
    (n, n_pos) per bin, and the tie-corrected rank sum uses average
    ranks per bin via a prefix sum over the BOUNDED bin relation (the
    window input is bins, never documents). AUC =
    (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) with R⁺ from doubled integer ranks, so
    everything is exact integer algebra until the single final division
    — bit-identical cross-engine with zero rounding games. Binning IS
    the tie policy (same-bin scores share their average rank), matching
    sklearn's roc_auc_score on the quantized scores."""
    from .core import _t as _load

    scores = doc_quality_classifier_scores(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    scored = scores.select(
        "doc_id", F.round(F.col("quality_score"), 4).alias("s4")
    ).join(docs, "doc_id")
    bins = scored.groupBy("s4").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("pos").alias("pos_s")
    )
    w = Window.orderBy("s4").rowsBetween(Window.unboundedPreceding, -1)
    ranked = bins.select(
        "s4",
        "n_s",
        "pos_s",
        F.coalesce(F.sum("n_s").over(w), F.lit(0)).alias("cum"),
    )
    n_pos = F.sum("pos_s")
    n_neg = F.sum(F.col("n_s") - F.col("pos_s"))
    r2 = F.sum(
        F.col("pos_s") * (2 * F.col("cum") + F.col("n_s") + 1)
    )
    return ranked.agg(
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        F.round(
            (r2 - n_pos * (n_pos + 1)).cast("double")
            / (2 * n_pos * n_neg).cast("double"),
            6,
        ).alias("auc"),
    )


_PCM_GOERTZEL_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         256 + doc_id % 512 AS n,
         8000 + (doc_id % 4) * 4000 AS rate
  FROM documents
),
s AS (
  SELECT media_id, n, rate, unnest(range(0, n)) AS i FROM t
),
v AS (
  SELECT media_id, n, rate, i,
         CAST(((media_id * 7 + i * 3) % 2001) - 1000 AS DOUBLE) AS x
  FROM s
),
g AS (
  SELECT media_id,
         CAST(any_value(n) AS BIGINT)    AS n_samples,
         CAST(any_value(rate) AS BIGINT) AS sample_rate,
         sum(x * cos(2 * pi() * 8 * i / n))  AS re,
         -sum(x * sin(2 * pi() * 8 * i / n)) AS im
  FROM v GROUP BY media_id
)
SELECT media_id, n_samples, sample_rate,
       round(re, 3) AS re_bin,
       round(im, 3) AS im_bin,
       round(sqrt(re * re + im * im) / n_samples, 4) AS mag_bin
FROM g
"""


@register("media_pcm_goertzel", oracle=_PCM_GOERTZEL_ORACLE)
def media_pcm_goertzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL DSP on decoded audio: single-bin DFT (Goertzel) energy at
    bin k=8 of every fabricated PCM clip — tone-detection / cheap
    spectral featurization, the step past the waveform statistics the
    decode query already pins. numpy dot products against cos/sin
    tables over the ACTUAL decoded int16 buffer, Arrow-batched; the
    oracle regenerates the closed-form ramp and reproduces the same
    trigonometric sums in SQL, so a one-sample decode slip shifts the
    phase and fails the gate. Rounded at 3/4 decimals: the only
    cross-engine noise is libm ulps and sum order (~1e-9 here).
    """
    from ..operators.multimodal import fabricate_pcm_media, pcm_bin_energy

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_pcm_media(docs, "doc_id")
    return pcm_bin_energy(media, k=8)


_MOTION_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 16 AS h,
         16 + doc_id % 24 AS w,
         2 + doc_id % 4   AS f
  FROM documents
),
s AS (
  SELECT media_id, f, h * w * 3 AS sz, (h * w * 3) % 256 AS d FROM t
),
pairs AS (
  SELECT media_id, sz, d,
         CAST(unnest(range(0, f - 1)) AS BIGINT) AS pair_idx
  FROM s
),
calc AS (
  SELECT media_id, pair_idx, sz, d,
         (media_id + pair_idx * sz) % 256 AS b,
         sz // 256 AS full_cycles,
         sz % 256  AS rem
  FROM pairs
),
wrapped AS (
  SELECT media_id, pair_idx, sz, d,
         full_cycles * d
         + CASE WHEN b + rem <= 256
                THEN greatest(0, b + rem - greatest(256 - d, b))
                ELSE greatest(0, 256 - greatest(256 - d, b))
                     + greatest(0, (b + rem - 256) - (256 - d))
           END AS n_wrap
  FROM calc
)
SELECT media_id, pair_idx,
       CAST(sz AS BIGINT) AS n_pixels,
       round((n_wrap * (256 - d) + (sz - n_wrap) * d) * 1.0 / sz, 6)
         AS mean_abs_diff
FROM wrapped
"""


@register("media_motion_energy", oracle=_MOTION_ORACLE)
def media_motion_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video motion energy: fabricate multi-frame RAW containers,
    decode the actual pixel buffers, and compute mean |Δintensity| per
    consecutive frame pair — the temporal-activity signal that gates
    static-clip dropping and frame-sampling density in a video-curation
    pipeline. The fabricated ramp advances by S=h·w·3 per frame, so each
    pixel's next-frame delta is d=S mod 256 except at the mod-256 wrap
    where it is d−256; the oracle counts wrap positions in closed form
    (full cycles contribute d wraps each, the remainder contributes the
    cyclic-interval overlap with [256−d, 256)) and predicts the REAL
    numpy mean exactly — uint8 sums are exact in float64. Arrow
    mapInPandas, one row in → f−1 rows out; no shuffle at all."""
    from ..operators.multimodal import fabricate_raw_media, motion_energy_raw

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_raw_media(docs, "doc_id", video=True)
    return motion_energy_raw(media).select(
        "media_id",
        "pair_idx",
        "n_pixels",
        F.round("mean_abs_diff", 6).alias("mean_abs_diff"),
    )


def _stationary_rounds_sql(n_rounds: int) -> str:
    rounds = []
    for r in range(1, n_rounds + 1):
        rounds.append(f"""
r{r} AS MATERIALIZED (
  SELECT m.nxt AS t,
         list_reduce(list(r{r - 1}.pi * m.p ORDER BY m.cur),
                     (a, b) -> a + b) AS pi
  FROM m JOIN r{r - 1} ON r{r - 1}.t = m.cur
  GROUP BY m.nxt
)""")
    return ",".join(rounds)


_STATIONARY_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
m AS MATERIALIZED (
  SELECT prev_type AS cur, event_type AS nxt,
         count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type) AS p
  FROM o WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
kk AS (SELECT count(DISTINCT cur) AS k FROM m),
r0 AS (
  SELECT cur AS t, 1.0 / kk.k AS pi
  FROM (SELECT DISTINCT cur FROM m) CROSS JOIN kk
),
{_stationary_rounds_sql(8)}
SELECT t AS event_type, round(pi, 6) AS stationary_prob
FROM r8
"""


@register("markov_stationary_distribution", oracle=_STATIONARY_ORACLE)
def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain — where `event_transition_matrix` says what happens NEXT, this
    says where the process SPENDS ITS TIME: π = πP via 8 power-iteration
    rounds from the uniform start (the steady-state mix a capacity
    planner provisions for). The O(data) work is one event-scan window
    pass + one transition groupBy; the matrix is types×types (tiny,
    bounded), so the 8 rounds run driver-side on the collected ≤k²-entry
    list — constant work at any corpus size, replacing 8 chained
    join+groupBy stages on a ≤5-row relation. Per-target accumulation
    FOLDS over the cur-sorted term list (exactly the BM25/ANOVA
    order-determinism discipline), so both engines iterate on
    bit-identical vectors. The oracle unrolls identical MATERIALIZED
    rounds — the k-core pattern."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = o.groupBy(
        F.col("prev_type").alias("cur"), F.col("event_type").alias("nxt")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("cur")
    m = counts.select(
        "cur",
        "nxt",
        (F.col("n") * 1.0 / F.sum("n").over(wrow)).alias("p"),
    )
    # Bounded-matrix power rounds, driver-side since round 8 (the
    # markov_removal_attribution treatment): the matrix is types×types
    # (≤25 entries), so the 8 rounds are constant work on constant
    # data — the previous 8 chained join+groupBy stages on a ≤5-row
    # relation were pure stage latency. The float sequence is
    # replicated exactly: per target, terms fold in (cur, term)-sorted
    # order (the array_sort(collect_list(struct(cur, term))) order the
    # in-plan fold used and the oracle's ORDER BY replays).
    rows = [(r["cur"], r["nxt"], float(r["p"])) for r in m.collect()]
    states = sorted({cur for cur, _, _ in rows})
    pi = {t: 1.0 / len(states) for t in states}
    for _ in range(8):
        terms: dict[str, list] = {}
        for cur, nxt, p in rows:
            if cur in pi:
                terms.setdefault(nxt, []).append((cur, pi[cur] * p))
        nxt_pi = {}
        for t, ts_ in terms.items():
            acc = 0.0
            for _cur, term in sorted(ts_):
                acc = acc + term
            nxt_pi[t] = acc
        pi = nxt_pi
    out = spark.createDataFrame(
        sorted(pi.items()), "t string, pi double"
    )
    return out.select(
        F.col("t").alias("event_type"),
        F.round("pi", 6).alias("stationary_prob"),
    )


@register(
    "classifier_gains_table",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(unnest(toks)), 1, 15)) AS BIGINT)
               % 64 AS bucket
      FROM t
    ),
    c AS (SELECT doc_id, bucket, count(*) AS n FROM e GROUP BY doc_id, bucket),
    z AS (
      SELECT doc_id,
             sum(n * (((bucket * 2654435761) % 4096) / 4096.0 - 0.5))
               / sum(n) - 0.05 AS logit
      FROM c GROUP BY doc_id
    ),
    s AS (
      SELECT z.doc_id,
             round(round(1.0 / (1.0 + exp(-z.logit)), 6), 4) AS s4,
             (d.lang = 'en')::INT AS pos
      FROM z JOIN documents d ON d.doc_id = z.doc_id
    ),
    deciled AS (
      SELECT pos, ntile(10) OVER (ORDER BY s4 DESC, doc_id) AS decile
      FROM s
    ),
    agg AS (
      SELECT decile, count(*) AS n, sum(pos) AS n_pos
      FROM deciled GROUP BY decile
    ),
    tot AS (SELECT sum(n) AS n_all, sum(n_pos) AS pos_all FROM agg)
    SELECT CAST(a.decile AS BIGINT) AS decile,
           CAST(a.n AS BIGINT) AS n_docs,
           CAST(a.n_pos AS BIGINT) AS n_pos,
           round(sum(a.n_pos) OVER (ORDER BY a.decile
                                    ROWS UNBOUNDED PRECEDING)
                 * 1.0 / t.pos_all, 6) AS cum_capture,
           round((a.n_pos * 1.0 / a.n) / (t.pos_all * 1.0 / t.n_all), 6)
             AS lift
    FROM agg a CROSS JOIN tot t
    """,
)
def classifier_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / decile-lift table for the in-plan quality
    classifier — the campaign-targeting view that completes the
    evaluation family (AUC ranks, ECE calibrates, gains answers 'how
    much of the positive class do the top k deciles capture'). Scores
    quantize to 4dp (the AUC query's tie policy) and deciles come from
    a deterministic ntile over (score DESC, doc_id); counts stay exact
    integers until the two final divisions. The global ntile runs over
    the document grain — at larger scale swap for the percent_rank-bin
    formulation; the downstream algebra is unchanged."""
    scores = doc_quality_classifier_scores(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    s = scores.select(
        "doc_id", F.round(F.col("quality_score"), 4).alias("s4")
    ).join(docs, "doc_id")
    deciled = s.select(
        "pos",
        F.ntile(10)
        .over(Window.orderBy(F.col("s4").desc(), F.col("doc_id")))
        .alias("decile"),
    )
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    tot = agg.agg(
        F.sum("n").alias("n_all"), F.sum("n_pos").alias("pos_all")
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n_docs"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(
            F.sum("n_pos").over(w) * 1.0 / F.col("pos_all"), 6
        ).alias("cum_capture"),
        F.round(
            (F.col("n_pos") * 1.0 / F.col("n"))
            / (F.col("pos_all") * 1.0 / F.col("n_all")),
            6,
        ).alias("lift"),
    )


_AHASH_ORACLE = """
WITH t AS (
  SELECT doc_id AS media_id,
         16 + doc_id % 16 AS h,
         16 + doc_id % 24 AS w
  FROM documents
),
px AS (
  SELECT media_id, h, w,
         unnest(range(0, h * w)) AS p
  FROM t
),
g AS (
  SELECT media_id,
         least(7, (p // w) * 8 // h) AS cr,
         least(7, (p % w) * 8 // w)  AS cc,
         (media_id + p * 3) % 256
         + (media_id + p * 3 + 1) % 256
         + (media_id + p * 3 + 2) % 256 AS gs
  FROM px
),
cells AS (
  SELECT media_id, cr, cc,
         sum(gs) * 1.0 / count(*) AS cm
  FROM g GROUP BY media_id, cr, cc
),
gm AS (
  SELECT media_id,
         list_reduce(list(cm ORDER BY cr, cc), (a, b) -> a + b) / 64.0
           AS gmean
  FROM cells GROUP BY media_id
),
bits AS (
  SELECT c.media_id, c.cr * 8 + c.cc AS k,
         CASE WHEN c.cm > m.gmean THEN 1 ELSE 0 END AS bit
  FROM cells c JOIN gm m ON m.media_id = c.media_id
),
hash AS MATERIALIZED (
  SELECT media_id,
         sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END)
           AS w1,
         sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                  ELSE 0 END) AS w2,
         sum(CASE WHEN k // 8 = 0 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band0,
         sum(CASE WHEN k // 8 = 1 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band1,
         sum(CASE WHEN k // 8 = 2 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band2,
         sum(CASE WHEN k // 8 = 3 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band3,
         sum(CASE WHEN k // 8 = 4 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band4,
         sum(CASE WHEN k // 8 = 5 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band5,
         sum(CASE WHEN k // 8 = 6 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band6,
         sum(CASE WHEN k // 8 = 7 THEN bit * (1::BIGINT << (k % 8))
                  ELSE 0 END) AS band7
  FROM bits GROUP BY media_id
),
bands AS (
  SELECT media_id, 0 AS b, band0 AS v FROM hash
  UNION ALL SELECT media_id, 1, band1 FROM hash
  UNION ALL SELECT media_id, 2, band2 FROM hash
  UNION ALL SELECT media_id, 3, band3 FROM hash
  UNION ALL SELECT media_id, 4, band4 FROM hash
  UNION ALL SELECT media_id, 5, band5 FROM hash
  UNION ALL SELECT media_id, 6, band6 FROM hash
  UNION ALL SELECT media_id, 7, band7 FROM hash
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM bands a JOIN bands b
    ON a.b = b.b AND a.v = b.v AND a.media_id < b.media_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(ha.w1, hb.w1))
            + bit_count(xor(ha.w2, hb.w2)) AS BIGINT) AS hamming
FROM cand c
JOIN hash ha ON ha.media_id = c.id_a
JOIN hash hb ON hb.media_id = c.id_b
WHERE bit_count(xor(ha.w1, hb.w1)) + bit_count(xor(ha.w2, hb.w2)) <= 6
"""


@register("media_ahash_near_dups", oracle=_AHASH_ORACLE)
def media_ahash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL perceptual-hash image near-duplicate detection — the image
    analogue of the text SimHash family: fabricate RAW images, decode
    the actual pixel buffers, aHash each (8×8 block means thresholded
    against the image mean), and find pairs within Hamming distance 6
    via EXACT 8-bit band bucketing (8 bands and ≤6 errors ⇒ pigeonhole
    guarantees at least one error-free band, so banding is lossless
    here, not approximate). The banding join runs on DISTINCT hashes —
    duplicate-heavy media (the common case: re-posts, mirrored crawls)
    collapses to its unique hashes before any pair generation, so band
    work scales with hash diversity while the final id-level expansion
    is output-bound (pairs between identical images are emitted by one
    hash-group self-join, never re-verified per band; measured 123s →
    ~6s at 10× data with ~65 copies/image, same output). The oracle
    regenerates the pixel ramp in SQL and reproduces the REAL decode's
    hash bit-for-bit (integer gray sums, exact cell-mean divisions,
    (row, col)-ordered global-mean fold)."""
    from pyspark import StorageLevel

    from ..operators.multimodal import ahash_raw_images, fabricate_raw_media

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_raw_media(docs, "doc_id", video=False)
    # The fabricate→decode→ahash chain feeds FIVE consumers below (the
    # distinct-hash relation, both id-expansion sides, and both sides of
    # the identical-hash self-join) — pin it once per invocation or the
    # Arrow decode re-runs per consumer (guide §5: cache only reused,
    # expensive-to-recompute intermediates; freed by the sweep's
    # clearCache).
    h = ahash_raw_images(media).persist(StorageLevel.MEMORY_AND_DISK)
    # distinct 64-bit hashes (w1, w2 words + their 8 band bytes)
    dh = h.drop("media_id").distinct()
    # all 8 band projections in ONE pass: explode a literal (band_id,
    # band_value) array instead of an 8-way union that re-evaluates the
    # distinct per branch
    bands = dh.select(
        F.col("w1").alias("hw1"),
        F.col("w2").alias("hw2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"), F.col(f"band{b}").alias("v")
                    )
                    for b in range(8)
                ]
            )
        ).alias("_bv"),
    ).select("hw1", "hw2", F.col("_bv.b").alias("b"), F.col("_bv.v").alias("v"))
    a = bands.alias("a")
    bb = bands.alias("b")
    hash_lt = (F.col("a.hw1") < F.col("b.hw1")) | (
        (F.col("a.hw1") == F.col("b.hw1"))
        & (F.col("a.hw2") < F.col("b.hw2"))
    )
    hamming = F.bit_count(F.expr("aw1 ^ bw1")) + F.bit_count(
        F.expr("aw2 ^ bw2")
    )
    near_h = (
        a.join(
            bb,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.v") == F.col("b.v"))
            & hash_lt,
        )
        .select(
            F.col("a.hw1").alias("aw1"),
            F.col("a.hw2").alias("aw2"),
            F.col("b.hw1").alias("bw1"),
            F.col("b.hw2").alias("bw2"),
        )
        .distinct()
        .filter(hamming <= 6)
    )
    # expand near hash pairs to id pairs (each id pair belongs to exactly
    # one hash pair, so no distinct needed; orient by id)
    ha = h.select(
        F.col("media_id").alias("id_x"),
        F.col("w1").alias("aw1"),
        F.col("w2").alias("aw2"),
    )
    hb = h.select(
        F.col("media_id").alias("id_y"),
        F.col("w1").alias("bw1"),
        F.col("w2").alias("bw2"),
    )
    cross = (
        near_h.join(ha, ["aw1", "aw2"])
        .join(hb, ["bw1", "bw2"])
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            hamming.cast("long").alias("hamming"),
        )
    )
    # identical-hash pairs: hamming 0, one self-join per hash group
    x = h.select("media_id", "w1", "w2").alias("x")
    y = h.select("media_id", "w1", "w2").alias("y")
    same = x.join(
        y,
        (F.col("x.w1") == F.col("y.w1"))
        & (F.col("x.w2") == F.col("y.w2"))
        & (F.col("x.media_id") < F.col("y.media_id")),
    ).select(
        F.col("x.media_id").alias("id_a"),
        F.col("y.media_id").alias("id_b"),
        F.lit(0).cast("long").alias("hamming"),
    )
    return cross.unionByName(same)


@register(
    "media_bmp_decode",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id,
             8 + doc_id % 8 AS h,
             8 + doc_id % 12 AS w
      FROM documents
    ),
    px AS (
      SELECT media_id, h, w, (media_id + i) % 256 AS b
      FROM t, unnest(range(0, h * w)) AS g(i)
    )
    SELECT media_id,
           CAST(14 + 40 + any_value(h) * ((3 * any_value(w) + 3) // 4 * 4)
                AS BIGINT) AS byte_len,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           round(avg((b + 170) % 256), 4) AS mean_r,
           round(avg((b + 85) % 256), 4) AS mean_g,
           round(avg(b), 4) AS mean_b,
           CAST((any_value(media_id) + 170) % 256 AS INT) AS r00,
           CAST((any_value(media_id) + 85) % 256 AS INT) AS g00,
           CAST(any_value(media_id) % 256 AS INT) AS b00
    FROM px GROUP BY media_id
    """,
)
def media_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL standard-format image decode — genuine 24-bit BMP files
    (BITMAPFILEHEADER + INFOHEADER, bottom-up BGR rows, 4-byte row
    padding) fabricated from a closed-form ramp, then parsed back with
    the stdlib-struct codec: dims from the header, per-channel means
    from the actual pixel buffer, and the TOP-LEFT pixel — which lives
    in the LAST stored row, so matching it proves the bottom-up/BGR
    layout round-trips, not merely the pixel multiset. This is the
    no-external-libs member of the codec family (RAW/PCM are the
    engine's own container; PNG/JPEG stay env-gated); one narrow Arrow
    pass per stage, blob bytes never leave Arrow batches."""
    from ..operators.multimodal import (
        decode_bmp_features,
        fabricate_bmp_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_bmp_media(docs, "doc_id")
    out = decode_bmp_features(media)
    return out.select(
        "media_id",
        "byte_len",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        "r00",
        "g00",
        "b00",
    )


@register(
    "media_png_decode",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id,
             8 + doc_id % 8 AS h,
             8 + doc_id % 12 AS w
      FROM documents
    ),
    px AS (
      SELECT media_id, h, w, (media_id + i) % 256 AS b
      FROM t, unnest(range(0, h * w)) AS g(i)
    )
    SELECT media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(3 * any_value(h) * any_value(w) AS BIGINT) AS raw_bytes,
           round(avg((b + 170) % 256), 4) AS mean_r,
           round(avg((b + 85) % 256), 4) AS mean_g,
           round(avg(b), 4) AS mean_b,
           CAST((any_value(media_id) + 170) % 256 AS INT) AS r00,
           CAST((any_value(media_id) + 85) % 256 AS INT) AS g00,
           CAST(any_value(media_id) % 256 AS INT) AS b00
    FROM px GROUP BY media_id
    """,
)
def media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-format image decode — genuine PNGs (IHDR/IDAT/
    IEND with enforced chunk CRCs, zlib-deflated scanlines whose filter
    type rotates through ALL FIVE per row) fabricated from the same
    closed-form ramp as the BMP family, then decoded back with the
    stdlib-zlib codec: chunk walk → CRC check → inflate → per-scanline
    un-filter (Sub/Up/Average/Paeth) → pixel stats. Round 6 closes the
    "compressed formats env-gated" gap for lossless images: the wire
    bytes are REALLY compressed (zlib), no external codec library
    involved. byte_len is deliberately NOT in the output — deflate
    output size is implementation-defined; the oracle pins the decoded
    pixels (means + the top-left pixel, which only reconstructs if
    un-filtering is right) and the raw RGB byte count."""
    from ..operators.multimodal import (
        decode_png_features,
        fabricate_png_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_png_media(docs, "doc_id")
    out = decode_png_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.lit(3) * F.col("height") * F.col("width"))
        .cast("long")
        .alias("raw_bytes"),
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        "r00",
        "g00",
        "b00",
    )


@register(
    "media_jpeg_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 12 AS INT) AS width,
           CAST(8 + doc_id % 8 AS INT) AS height,
           CAST(3 * (8 + doc_id % 8) * (8 + doc_id % 12) AS BIGINT)
             AS raw_bytes
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def media_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-format image decode — genuine baseline JPEGs (SOI/DQT/
    SOF0/DHT/SOS marker walk, Annex-K Huffman entropy decode with byte
    unstuffing, dezigzag, dequant, IDCT) fabricated from the same
    closed-form ramp as the BMP/PNG families and decoded back with the
    stdlib codec. All-ones quantization bounds the loss to DCT float
    rounding (|pixel err| ≤ 2, pinned in tests against the lossless BMP
    twin), so the ORACLE checks exactly what lossy decode can promise
    exactly: header dims and the raw pixel byte count. The decoded
    statistics' accuracy lives in tests/test_multimodal.py. Completes
    the codec ladder: RAW/PCM (own container) → BMP/WAV (real lossless
    containers) → PNG (real entropy-coded lossless) → JPEG (real lossy);
    inter-frame video is real via media_gif_decode; only
    motion compensation is closed by media_mpv_decode (round 8); only
    real-world bitstream formats (H.264) remain env-gated."""
    from ..operators.multimodal import (
        decode_jpeg_features,
        fabricate_jpeg_media,
    )

    # Deterministic 10% subset: the query pins codec SEMANTICS (entropy
    # decode, marker walk), and the pure-Python bit coder costs ~2ms per
    # image — the full corpus would bill ~8s of codec CPU to a
    # correctness row. The oracle applies the same filter.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = fabricate_jpeg_media(docs, "doc_id")
    out = decode_jpeg_features(media)
    return out.select(
        "media_id",
        "width",
        "height",
        (F.lit(3) * F.col("height") * F.col("width"))
        .cast("long")
        .alias("raw_bytes"),
    )


@register(
    "media_gif_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(8 + doc_id % 8 AS INT) AS h,
             CAST(8 + doc_id % 12 AS INT) AS w
      FROM documents WHERE doc_id % 10 = 0
    ),
    px AS (
      SELECT m.doc_id, m.h, m.w, fr.f, r.i AS r, c.i AS c,
             CASE
               WHEN fr.f >= 1 AND r.i < 4 AND c.i < 4
                 THEN (m.doc_id + 17) % 256
               WHEN fr.f >= 2 AND r.i BETWEEN 4 AND 7 AND c.i < 4
                 THEN (m.doc_id + 34) % 256
               WHEN fr.f >= 3 AND r.i < 4 AND c.i BETWEEN 4 AND 7
                 THEN (m.doc_id + 51) % 256
               ELSE (m.doc_id + r.i * m.w + c.i) % 256
             END AS v
      FROM m
      CROSS JOIN range(4) fr(f)
      CROSS JOIN range(15) r(i)
      CROSS JOIN range(19) c(i)
      WHERE r.i < m.h AND c.i < m.w
    )
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           w AS width, h AS height,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, f, w, h
    """,
)
def media_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL inter-frame video decode — animated GIF89a (LZW entropy
    decode with the spec's deferred code-width change, byte sub-blocks,
    sub-rectangle frames composited onto the running canvas under
    disposal 'do not dispose'). Frames 1-3 of each fabricated animation
    re-code ONLY a changed 4x4 sub-rectangle, so they are undecodable
    without frame 0's canvas: conditional replenishment, a genuine
    temporal dependency the intra-only MJPEG-AVI row cannot exercise.
    The codec is lossless, so the oracle value-checks the EXACT
    composited pixel sum of every frame (closed form: base ramp with
    the f earliest disjoint rect fills applied) — a one-bit LZW or
    composition error flips the hash. Motion-COMPENSATED formats
    (H.264) are library-bound — the MECHANISM is closed by
    media_mpv_decode's from-scratch motion-compensated toy (round 8);
    same deterministic 10% subset and rationale as media_jpeg_decode."""
    from ..operators.multimodal import (
        decode_gif_features,
        fabricate_gif_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = fabricate_gif_media(docs, "doc_id")
    return decode_gif_features(media)


@register(
    "media_mpv_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(8 * (1 + doc_id % 2) AS INT) AS h,
             CAST(8 * (1 + doc_id % 3) AS INT) AS w
      FROM documents WHERE doc_id % 10 = 7
    ),
    acc AS (
      SELECT m.doc_id, m.h, m.w, fr.f,
             COALESCE(SUM((m.doc_id + 7 * k.k) % 256), 0) AS bc,
             COALESCE(SUM(1 + (m.doc_id + k.k) % 3), 0) AS dxc,
             COALESCE(SUM(1 + (m.doc_id + 2 * k.k) % 2), 0) AS dyc
      FROM m CROSS JOIN range(4) fr(f)
      LEFT JOIN range(1, 4) k(k) ON k.k <= fr.f
      GROUP BY m.doc_id, m.h, m.w, fr.f
    ),
    px AS (
      SELECT a.doc_id, a.h, a.w, a.f, a.bc, a.dxc, a.dyc,
             (a.doc_id + a.bc + i.i) % 256 AS v
      FROM acc a CROSS JOIN range(384) i(i)
      WHERE i.i < a.h * a.w
    )
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           w AS width, h AS height,
           CAST(sum(v) AS BIGINT) AS pixel_sum,
           CAST((any_value(doc_id) + (any_value(dyc) % h) * w
                 + (any_value(dxc) % w) + any_value(bc)) % 256 AS INT)
             AS p00
    FROM px GROUP BY doc_id, f, w, h
    """,
)
def media_mpv_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MOTION-COMPENSATED video decode — the MPV1 toy codec
    (operators/multimodal.py): every P-frame block carries a motion
    vector into the reference frame plus a residual, so reconstruction
    genuinely performs prediction-from-moved-reference (the MPEG-1/H.264
    mechanism), with toroidal addressing + mod-256 residuals keeping the
    math exact. The fabricated clips pan globally per frame with a
    constant brightness delta, so each block's residual is ONE byte on
    the wire (the entropy win motion search exists to buy) and the
    oracle replays both the shift-invariant pixel sum AND the
    position-dependent top-left pixel in closed form — a decoder that
    drops or misapplies a motion vector flips p00 even when the sum
    survives. Closes the 'motion-compensated' gap left by the GIF
    family's conditional replenishment; real-world bitstreams
    (H.264/MP3) stay env-gated as library-bound, not math-bound.
    Distinct 10% subset (doc_id % 10 = 7)."""
    from ..operators.multimodal import (
        decode_mpv_features,
        fabricate_mpv_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 7)
    media = fabricate_mpv_media(docs, "doc_id")
    return decode_mpv_features(media)


@register(
    "media_mpa_decode",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 3),
    x AS (
      SELECT doc_id, CAST(i.i // 32 AS INT) AS f, CAST(i.i % 32 AS INT) AS j,
             (doc_id + (doc_id % 9 + 1) * i.i * i.i) % 256 AS v
      FROM ids CROSS JOIN range(64) i(i)
    ),
    l1 AS (
      SELECT doc_id, f, CAST(j // 2 AS INT) AS p,
             CAST(floor((max(CASE WHEN j % 2 = 0 THEN v END)
                         + max(CASE WHEN j % 2 = 1 THEN v END)) / 2.0)
                  AS BIGINT) AS s1,
             max(CASE WHEN j % 2 = 0 THEN v END)
               - max(CASE WHEN j % 2 = 1 THEN v END) AS d1
      FROM x GROUP BY doc_id, f, j // 2
    ),
    l2 AS (
      SELECT doc_id, f, CAST(p // 2 AS INT) AS q,
             CAST(floor((max(CASE WHEN p % 2 = 0 THEN s1 END)
                         + max(CASE WHEN p % 2 = 1 THEN s1 END)) / 2.0)
                  AS BIGINT) AS s2,
             max(CASE WHEN p % 2 = 0 THEN s1 END)
               - max(CASE WHEN p % 2 = 1 THEN s1 END) AS d2
      FROM l1 GROUP BY doc_id, f, p // 2
    ),
    meta AS (
      SELECT a.doc_id, a.f, a.amax1, b.amax2,
             CASE WHEN b.amax2 >= a.amax1 THEN 5 ELSE 3 END AS b2,
             CASE WHEN b.amax2 >= a.amax1 THEN 3 ELSE 5 END AS b1
      FROM (SELECT doc_id, f, max(abs(d1)) AS amax1 FROM l1 GROUP BY 1, 2) a
      JOIN (SELECT doc_id, f, max(abs(d2)) AS amax2 FROM l2 GROUP BY 1, 2) b
        USING (doc_id, f)
    ),
    meta2 AS (
      SELECT *,
        greatest(0, (CASE WHEN amax2 = 0 THEN 0
                          ELSE CAST(floor(log2(amax2)) AS INT) + 1 END) - b2)
          AS sh2,
        greatest(0, (CASE WHEN amax1 = 0 THEN 0
                          ELSE CAST(floor(log2(amax1)) AS INT) + 1 END) - b1)
          AS sh1
      FROM meta
    ),
    r2 AS (
      SELECT l2.doc_id, l2.f, 2 * l2.q + e.e AS p,
             CASE WHEN e.e = 0
                  THEN l2.s2 + CAST(floor((d2p + 1) / 2.0) AS BIGINT)
                  ELSE l2.s2 + CAST(floor((d2p + 1) / 2.0) AS BIGINT) - d2p
             END AS s1p
      FROM l2
      JOIN meta2 m USING (doc_id, f)
      CROSS JOIN (VALUES (0), (1)) e(e)
      CROSS JOIN LATERAL (
        SELECT CAST(floor(l2.d2 / pow(2, m.sh2)) * pow(2, m.sh2)
                    + CASE WHEN m.sh2 > 0 THEN pow(2, m.sh2 - 1) ELSE 0 END
               AS BIGINT) AS d2p
      ) t
    ),
    rx AS (
      SELECT r2.doc_id, r2.f, 2 * r2.p + e.e AS j,
             CASE WHEN e.e = 0
                  THEN r2.s1p + CAST(floor((d1p + 1) / 2.0) AS BIGINT)
                  ELSE r2.s1p + CAST(floor((d1p + 1) / 2.0) AS BIGINT) - d1p
             END AS xp
      FROM r2
      JOIN l1 USING (doc_id, f, p)
      JOIN meta2 m USING (doc_id, f)
      CROSS JOIN (VALUES (0), (1)) e(e)
      CROSS JOIN LATERAL (
        SELECT CAST(floor(l1.d1 / pow(2, m.sh1)) * pow(2, m.sh1)
                    + CASE WHEN m.sh1 > 0 THEN pow(2, m.sh1 - 1) ELSE 0 END
               AS BIGINT) AS d1p
      ) t
    )
    SELECT rx.doc_id AS media_id, rx.f AS frame_idx,
           CAST(any_value(m.b2) AS INT) AS bits_d2,
           CAST(any_value(m.b1) AS INT) AS bits_d1,
           CAST(any_value(m.sh2) AS INT) AS shift_d2,
           CAST(any_value(m.sh1) AS INT) AS shift_d1,
           CAST(sum(rx.xp) AS BIGINT) AS decoded_sum,
           CAST(10 + (8 * (any_value(m.b2) + 1)
                      + 16 * (any_value(m.b1) + 1) + 7) // 8 AS INT)
             AS frame_bytes
    FROM rx JOIN meta2 m USING (doc_id, f)
    GROUP BY rx.doc_id, rx.f
    """,
)
def media_mpa_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL subband-audio decode with DYNAMIC BIT ALLOCATION — the MPA1
    toy codec (operators/multimodal.py): 2-level integer Haar
    (S-transform) filterbank, per-frame allocation driven by detail-band
    loudness (the louder band gets 5 bits, the quieter 3 — the MP2-class
    mechanism minus the FFT masking model, which stays env-gated as
    library-bound), offset-binary bit-PACKED mantissas on the wire.
    Integer lifting + floor quantization keep every step exact, so the
    oracle replays the ENTIRE codec in closed form — filterbank,
    loudness ranking, shift selection, quantize+offset, inverse lifting
    — and value-checks the per-frame decoded sums, the chosen
    allocation, and the wire size. A one-bit packing or allocation error
    flips the hash. Distinct 10% subset (doc_id % 10 = 3)."""
    from ..operators.multimodal import (
        decode_mpa_features,
        fabricate_mpa_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 3)
    media = fabricate_mpa_media(docs, "doc_id")
    return decode_mpa_features(media)


@register(
    "media_avi_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 AS INT) AS n_frames,
           CAST(10 AS INT) AS fps,
           CAST(8 + doc_id % 12 AS INT) AS width,
           CAST(8 + doc_id % 8 AS INT) AS height,
           CAST(4 * 3 * (8 + doc_id % 8) * (8 + doc_id % 12) AS BIGINT)
             AS raw_bytes
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def media_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decode — MJPEG-in-AVI (RIFF chunk walk →
    avih/strh stream validation → per-'00dc'-frame baseline-JPEG
    entropy decode), fabricated as a deterministic ramp VIDEO (frame f
    = the image ramp shifted by 17·f). The oracle pins the lossless-
    exact container facts (frame count, fps, dims, raw pixel bytes);
    decoded luma/motion statistics carry JPEG rounding and are pinned
    in tests/test_multimodal.py. With this row the media ladder has a
    REAL member at every tier — RAW/PCM, BMP/WAV, PNG (lossless
    compressed), JPEG (lossy), MJPEG-AVI (intra video), animated GIF
    (inter-frame video, see media_gif_decode) — and only
    motion compensation itself is closed by media_mpv_decode; the
    real-world bitstreams (H.264/MP4) remain env-gated."""
    from ..operators.multimodal import (
        decode_avi_features,
        fabricate_avi_media,
    )

    # Same deterministic 10% subset (and rationale) as media_jpeg_decode
    # — a 4-frame video costs 4x the JPEG codec CPU per row.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = fabricate_avi_media(docs, "doc_id")
    out = decode_avi_features(media)
    return out.select(
        "media_id",
        "n_frames",
        "fps",
        "width",
        "height",
        (
            F.col("n_frames").cast("long")
            * 3
            * F.col("height")
            * F.col("width")
        ).alias("raw_bytes"),
    )


@register(
    "media_adpcm_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
           CAST(64 + doc_id % 64 AS INT) AS n_samples,
           round(1000.0 * (64 + doc_id % 64)
                 / (8000 + (doc_id % 4) * 4000), 6) AS duration_ms
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def media_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode — IMA ADPCM in WAV (format tag
    0x11, 4 bits/sample ≈ 4× smaller than 16-bit PCM): chunk walk →
    fmt/fact validation → block-header seed → per-nibble adaptive
    decode. Fabricated as a smooth deterministic sine so the 4-bit
    codec tracks it (~4% mean error, pinned in tests); the oracle pins
    the lossless-exact container facts (rate, fact-chunk sample count,
    duration). Same deterministic 10% doc subset as the JPEG/AVI codec
    rows. Completes the audio tier: PCM → WAV → ADPCM; only
    psychoacoustic codecs (MP3/OGG) remain env-gated."""
    from ..operators.multimodal import (
        decode_adpcm_features,
        fabricate_adpcm_media,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = fabricate_adpcm_media(docs, "doc_id")
    out = decode_adpcm_features(media)
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("duration_ms", 6).alias("duration_ms"),
    )


@register(
    "media_wav_decode",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id,
             64 + doc_id % 64 AS n,
             8000 + (doc_id % 4) * 4000 AS rate
      FROM documents
    ),
    s AS (
      SELECT media_id, n, rate,
             ((media_id * 7 + i * 13) % 4096) - 2048 AS v
      FROM t, unnest(range(0, n)) AS g(i)
    )
    SELECT media_id,
           CAST(any_value(rate) AS INT) AS sample_rate,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           round(1000.0 * any_value(n) / any_value(rate), 4)
             AS duration_ms,
           round(sum(v) * 1.0 / any_value(n), 4) AS mean_amplitude,
           CAST(max(abs(v)) AS INT) AS peak,
           round(sqrt(sum(v * v) * 1.0 / any_value(n)), 4) AS rms
    FROM s GROUP BY media_id
    """,
)
def media_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL standard-format audio decode — genuine RIFF/WAVE files
    (PCM16 mono, plus a deliberate unknown LIST chunk so the decoder
    must WALK word-aligned chunks like any compliant reader, never
    assume fixed offsets) fabricated from a closed-form ramp and parsed
    back with the stdlib-struct codec: sample rate and duration from
    the header, mean/peak/RMS amplitude from the actual int16 samples.
    Amplitude stats are exact-integer sums (mean and RMS are single
    rounded divisions; sqrt is IEEE-exact), so the SQL oracle matches
    bit-for-bit."""
    from ..operators.multimodal import (
        decode_wav_features,
        fabricate_wav_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = fabricate_wav_media(docs, "doc_id")
    out = decode_wav_features(media)
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("duration_ms", 4).alias("duration_ms"),
        F.round("mean_amplitude", 4).alias("mean_amplitude"),
        "peak",
        F.round("rms", 4).alias("rms"),
    )
