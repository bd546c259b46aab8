"""Contract query: PCA top component of the embedding corpus.

The oracle unrolls the identical fixed-round power iteration as
materialized DuckDB CTEs over the same rounded covariance relation —
turning an "iterative, therefore rows-only" algorithm into a full
value-hash parity gate, the same trick the graph family uses for
PageRank/k-core/LPA.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.pca import power_iteration_top_component
from .core import register, _t

_DIM = 64
_ITERS = 8


def _mv_step(k: int, p: int) -> str:
    return f"""
    mv{k} AS MATERIALIZED (
      SELECT C.i AS i, sum(C.c * v{p}.v) AS mv
      FROM C JOIN v{p} ON C.j = v{p}.i GROUP BY C.i
    ),
    n{k} AS (SELECT sqrt(sum(mv * mv)) AS s FROM mv{k}),
    v{k} AS MATERIALIZED (
      SELECT i, mv / n{k}.s AS v FROM mv{k} CROSS JOIN n{k}
    )"""


_STEPS = ",".join(_mv_step(k, k - 1) for k in range(1, _ITERS + 1))

_ORACLE = f"""
WITH ex AS MATERIALIZED (
  SELECT vec_id, CAST(r.i AS INTEGER) AS i,
         CAST(embedding[r.i + 1] AS DOUBLE) AS x
  FROM embeddings, unnest(range(0, {_DIM})) AS r(i)
),
mom AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy, count(*) AS n
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i
),
mu AS (SELECT i, avg(x) AS mu FROM ex GROUP BY i),
up AS (
  SELECT mom.i, mom.j,
         round(sxy / n - mi.mu * mj.mu, 9) AS c
  FROM mom JOIN mu mi ON mom.i = mi.i JOIN mu mj ON mom.j = mj.i
),
C AS MATERIALIZED (
  SELECT i, j, c FROM up
  UNION ALL
  SELECT j AS i, i AS j, c FROM up WHERE i <> j
),
v0 AS MATERIALIZED (
  SELECT CAST(r.i AS INTEGER) AS i, 0.125 AS v
  FROM unnest(range(0, {_DIM})) AS r(i)
),
{_STEPS},
cv AS MATERIALIZED (
  SELECT C.i AS i, sum(C.c * v{_ITERS}.v) AS mv
  FROM C JOIN v{_ITERS} ON C.j = v{_ITERS}.i GROUP BY C.i
),
lam AS (
  SELECT sum(cv.mv * v{_ITERS}.v) AS lam
  FROM cv JOIN v{_ITERS} ON cv.i = v{_ITERS}.i
),
sgn AS (
  SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM v{_ITERS} ORDER BY abs(v) DESC, i LIMIT 1
)
SELECT v{_ITERS}.i            AS dim_idx,
       round(v{_ITERS}.v * sgn.s, 4) AS loading,
       round(lam.lam, 4)      AS eigenvalue
FROM v{_ITERS} CROSS JOIN sgn CROSS JOIN lam
"""


@register("embedding_pca_top_component", oracle=_ORACLE)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component (loadings + eigenvalue) of the 64-dim
    embedding corpus — the first step of every spectral diagnostic on a
    training-data embedding table (anisotropy checks, whitening,
    dominant-direction removal a la all-but-the-top).

    Scale shape: ONE distributed pass computes the d(d+1)/2 moment sums
    (each vector emits its upper-triangle outer product via nested
    array transforms, JVM-side); everything after lives on d^2 = 4096
    rows regardless of corpus size, so the builder collects that
    matrix and runs the fixed 8-round matvec/normalize recurrence on
    the driver (``power_iteration_top_component``). Covariance
    entries round to 9 decimals so both
    engines iterate from bit-identical matrices; loadings round to 4
    with a deterministic sign convention (largest-|loading| coordinate
    positive)."""
    emb = _t(spark, sf_dir, "embeddings")
    return power_iteration_top_component(emb, "embedding", _DIM, iterations=_ITERS)


_GMM_ITERS = 5
_TWO_PI = "6.283185307179586"


def _gmm_oracle() -> str:
    parts = ["""
WITH vals AS MATERIALIZED (
  SELECT value AS x FROM events WHERE value IS NOT NULL
),
p0 AS (
  SELECT 0.5 AS w2,
         round(quantile_cont(x, 0.25), 9) AS mu1,
         round(quantile_cont(x, 0.75), 9) AS mu2,
         round(pow(quantile_cont(x, 0.75)
                   - quantile_cont(x, 0.25), 2), 9) AS s1,
         round(pow(quantile_cont(x, 0.75)
                   - quantile_cont(x, 0.25), 2), 9) AS s2
  FROM vals
)"""]
    for k in range(1, _GMM_ITERS + 1):
        parts.append(f""",
e{k} AS MATERIALIZED (
  SELECT x,
         CASE WHEN
           (1.0 - p.w2) * exp(-(x - p.mu1) * (x - p.mu1) / (2 * p.s1))
             / sqrt({_TWO_PI} * p.s1)
           + p.w2 * exp(-(x - p.mu2) * (x - p.mu2) / (2 * p.s2))
             / sqrt({_TWO_PI} * p.s2) > 0
         THEN
           p.w2 * exp(-(x - p.mu2) * (x - p.mu2) / (2 * p.s2))
             / sqrt({_TWO_PI} * p.s2)
           / ((1.0 - p.w2) * exp(-(x - p.mu1) * (x - p.mu1) / (2 * p.s1))
                / sqrt({_TWO_PI} * p.s1)
              + p.w2 * exp(-(x - p.mu2) * (x - p.mu2) / (2 * p.s2))
                / sqrt({_TWO_PI} * p.s2))
         ELSE 0.5 END AS r2
  FROM vals CROSS JOIN p{k - 1} p
),
p{k} AS MATERIALIZED (
  SELECT round(avg(r2), 9) AS w2,
         round(sum((1 - r2) * x) / sum(1 - r2), 9) AS mu1,
         round(sum(r2 * x) / sum(r2), 9) AS mu2,
         round(sum((1 - r2) * x * x) / sum(1 - r2)
               - pow(sum((1 - r2) * x) / sum(1 - r2), 2), 9) AS s1,
         round(sum(r2 * x * x) / sum(r2)
               - pow(sum(r2 * x) / sum(r2), 2), 9) AS s2
  FROM e{k}
)""")
    parts.append(f"""
SELECT (SELECT CAST(count(*) AS BIGINT) FROM vals) AS n_rows,
       round(1.0 - w2, 6) AS weight_1,
       round(w2, 6)       AS weight_2,
       round(mu1, 6)      AS mean_1,
       round(mu2, 6)      AS mean_2,
       round(sqrt(s1), 6) AS sd_1,
       round(sqrt(s2), 6) AS sd_2
FROM p{_GMM_ITERS}""")
    return "".join(parts)


@register("gmm_em_value_mixture", oracle=_gmm_oracle())
def gmm_em_value_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan EM for a 2-component 1-D Gaussian mixture over event
    values — distribution decomposition (bimodality detection, soft
    thresholding) as a FIXED 5-round declarative pipeline, no driver
    loop, no MLlib. Deterministic init from exact quartiles (μ = p25 /
    p75, σ² = IQR², w = ½); each E-step is pure per-row column math
    against the broadcast 1-row parameter relation; each M-step is one
    partially-aggregated scan producing 6 raw-moment sums. Parameters
    are rounded to 9dp per round — the PCA-family discipline that makes
    both engines (and any shuffle order) iterate from identical
    parameters: the ≤1-ulp libm/accumulation noise (relative ~1e-14)
    sits far below the 1e-9 absolute round at these magnitudes. A
    zero-density guard assigns r=0.5 where both components underflow.
    Scale: 5 scans of the (checkpointed) value column + 5 one-row
    aggregates; state is 5 doubles."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    vals = (
        ev.filter(F.col("value").isNotNull())
        .select(F.col("value").alias("x"))
        .localCheckpoint(eager=False)
    )
    two_pi = float(_TWO_PI)
    q = vals.agg(
        F.expr("percentile(x, 0.25)").alias("q25"),
        F.expr("percentile(x, 0.75)").alias("q75"),
    )
    params = q.select(
        F.lit(0.5).alias("w2"),
        F.round(F.col("q25"), 9).alias("mu1"),
        F.round(F.col("q75"), 9).alias("mu2"),
        F.round(F.pow(F.col("q75") - F.col("q25"), 2), 9).alias("s1"),
        F.round(F.pow(F.col("q75") - F.col("q25"), 2), 9).alias("s2"),
    )
    for _ in range(_GMM_ITERS):
        joined = vals.crossJoin(F.broadcast(params))
        d1 = (
            (1.0 - F.col("w2"))
            * F.exp(
                -(F.col("x") - F.col("mu1"))
                * (F.col("x") - F.col("mu1"))
                / (2 * F.col("s1"))
            )
            / F.sqrt(two_pi * F.col("s1"))
        )
        d2 = (
            F.col("w2")
            * F.exp(
                -(F.col("x") - F.col("mu2"))
                * (F.col("x") - F.col("mu2"))
                / (2 * F.col("s2"))
            )
            / F.sqrt(two_pi * F.col("s2"))
        )
        e = joined.select(
            "x",
            F.when(d1 + d2 > 0, d2 / (d1 + d2))
            .otherwise(F.lit(0.5))
            .alias("r2"),
        )
        params = e.agg(
            F.round(F.avg("r2"), 9).alias("w2"),
            F.round(
                F.sum((1 - F.col("r2")) * F.col("x"))
                / F.sum(1 - F.col("r2")),
                9,
            ).alias("mu1"),
            F.round(
                F.sum(F.col("r2") * F.col("x")) / F.sum("r2"), 9
            ).alias("mu2"),
            F.round(
                F.sum((1 - F.col("r2")) * F.col("x") * F.col("x"))
                / F.sum(1 - F.col("r2"))
                - F.pow(
                    F.sum((1 - F.col("r2")) * F.col("x"))
                    / F.sum(1 - F.col("r2")),
                    2,
                ),
                9,
            ).alias("s1"),
            F.round(
                F.sum(F.col("r2") * F.col("x") * F.col("x"))
                / F.sum("r2")
                - F.pow(
                    F.sum(F.col("r2") * F.col("x")) / F.sum("r2"), 2
                ),
                9,
            ).alias("s2"),
        )
    n = vals.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return params.crossJoin(F.broadcast(n)).select(
        "n_rows",
        F.round(1.0 - F.col("w2"), 6).alias("weight_1"),
        F.round(F.col("w2"), 6).alias("weight_2"),
        F.round(F.col("mu1"), 6).alias("mean_1"),
        F.round(F.col("mu2"), 6).alias("mean_2"),
        F.round(F.sqrt(F.col("s1")), 6).alias("sd_1"),
        F.round(F.sqrt(F.col("s2")), 6).alias("sd_2"),
    )
