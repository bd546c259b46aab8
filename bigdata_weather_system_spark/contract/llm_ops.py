"""Contract queries: LLM training-data pipeline operators.

Dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine),
similarity search (brute-force + LSH), text analysis (tokens, quality,
language-ID, fingerprint), multimodal plumbing. These are first-class
components of the engine (BASELINE.json north star), not extras.

Oracle notes:
- md5 is used for fingerprints (bit-identical across engines; xxhash64 is
  Spark-only so MinHash/SimHash entries are rows-only checks).
- All vector math is done in doubles on both sides; DuckDB's
  ``list_cosine_similarity`` on FLOAT[] computes in float32, so oracles cast
  to DOUBLE[] first.
- Ratios/scores are rounded identically on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs_prefix,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..operators.multimodal import (
    media_metadata_summary,
    to_media_table,
)
from ..operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dup_pairs,
)
from ..operators.text import fingerprint, language_id, quality_score
from .core import register, _t

# Portable SQL fragments ----------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"

_SHINGLES_CTE = f"""
    t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(toks) - 2, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
          FROM t),
    e AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM s)
"""

_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


#: Exact shingle-Jaccard pair list (shared by the inverted-index and
#: prefix-filtered formulations -- ONE string so the "identical oracle"
#: guarantee cannot drift by copy-edit).
_JACCARD_PAIRS_ORACLE = f"""
    WITH {_SHINGLES_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_common,
           round(count(*)::DOUBLE /
                 (any_value(a.sz) + any_value(b.sz) - count(*)), 6) AS jaccard
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(count(*)::DOUBLE /
                 (any_value(a.sz) + any_value(b.sz) - count(*)), 6) >= 0.5
    """

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_docs",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    JOIN (
      SELECT md5({_NORM_TEXT}) AS ck, min(doc_id) AS doc_id
      FROM documents GROUP BY 1
    ) k ON d.doc_id = k.doc_id
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: smallest doc_id survives per normalized-content hash."""
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text").select("doc_id", "lang", "n_chars")


@register(
    "ngram_jaccard_near_dups",
    oracle=_JACCARD_PAIRS_ORACLE,
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs ≥ 0.5 (explode + self-join)."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


@register(
    "ngram_jaccard_near_dups_prefix",
    oracle=_JACCARD_PAIRS_ORACLE,
)
def ngram_jaccard_near_dups_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact Jaccard-pair semantics as ``ngram_jaccard_near_dups``
    (identical oracle), via prefix filtering (SSJoin/PPJoin family) —
    the scale path when hot boilerplate shingles make posting lists
    quadratic. Rarest-first prefixes cut candidate pairs 3x even on the
    skew-free synthetic corpus."""
    from ..operators.dedup import jaccard_pairs_prefix

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5)


@register(
    "doc_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_common,
           round(greatest(count(*)::DOUBLE / any_value(a.sz),
                          count(*)::DOUBLE / any_value(b.sz)), 6)
             AS containment
    FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(greatest(count(*)::DOUBLE / any_value(a.sz),
                          count(*)::DOUBLE / any_value(b.sz)), 6) >= 0.8
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups: max(c/|A|, c/|B|) ≥ 0.8 — the
    quoted-paragraph / doc-embedded-in-doc case Jaccard misses (a short
    doc inside a long one has tiny union-normalized similarity but
    containment ≈ 1). Registered on the PREFIX-FILTERED generator
    (exact-identical output to the inverted index — same oracle; equality
    also pinned in tests): candidates come from rarest-first prefixes
    probed against the full index with the smaller-side overlap bound
    c ≥ ⌈t·min(|A|,|B|)⌉, so a boilerplate shingle shared by 10^5 docs
    costs linear probes instead of 5×10^9 all-vs-all pairs. The
    unguarded inverted-index twin (``containment_pairs``) stays as the
    verification baseline."""
    from ..operators.dedup import containment_pairs_prefix

    d = _t(spark, sf_dir, "documents")
    return containment_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.8)


_JACCARD_PAIRS_CTE = f"""
    {_SHINGLES_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING round(count(*)::DOUBLE /
                   (any_value(a.sz) + any_value(b.sz) - count(*)), 6) >= 0.5
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
    cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
"""


@register(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE}
    SELECT node AS doc_id, cluster_id FROM cc
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: Jaccard pairs → connected components
    (iterative min-label propagation with pointer jumping — all DataFrame
    joins, lineage cut per round). cluster_id = min doc_id in component.
    The DuckDB oracle computes the same closure with a recursive CTE.
    Pairs come from the prefix-filtered generator (exact-identical output
    to the inverted index, measured ~1.3-2x faster end-to-end and the
    variant that survives boilerplate skew)."""
    from ..operators.dedup import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5)
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "dedup_survivors_near_dup",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE}
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM cc WHERE cc.node = d.doc_id AND cc.node <> cc.cluster_id
    )
    """,
)
def dedup_survivors_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: keep the smallest-id doc per cluster,
    drop the rest via a broadcast anti-join on the (tiny) loser list —
    untouched rows pass through without shuffling the corpus."""
    from ..operators.dedup import keep_canonical

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5)
    return keep_canonical(d, pairs, "doc_id").select("doc_id", "lang", "n_chars")


#: Default-on hot-bucket cap for the registered LSH/SimHash band pair
#: generators (round-2 verdict, Next #5): a band bucket hotter than this is
#: boilerplate collapse, not similarity signal — it is dropped whole and
#: counted through the attached Observation. Far above any bucket the
#: synthetic corpora produce (parity unchanged), far below the c²/2
#: pair blow-up a degenerate band would cost at corpus scale.
_NEAR_DUP_MAX_BUCKET = 10_000


@register(
    "minhash_lsh_near_dups",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, i,
             min(CAST(('0x' || substring(md5(i || ':' || shingle), 1, 15))
                      AS BIGINT)) AS m
      FROM e CROSS JOIN range(32) r(i)
      GROUP BY doc_id, i
    ),
    sig AS (SELECT doc_id, list(m ORDER BY i) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b,
             CAST(('0x' || substring(md5(
               sig[4*b+1] || ',' || sig[4*b+2] || ',' ||
               sig[4*b+3] || ',' || sig[4*b+4]), 1, 15)) AS BIGINT) AS bucket
      FROM sig CROSS JOIN range(8) r(b)
    ),
    kept AS (
      SELECT b, bucket FROM bands GROUP BY b, bucket
      HAVING count(*) > 1 AND count(*) <= {_NEAR_DUP_MAX_BUCKET}
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x
      JOIN kept k ON k.b = x.b AND k.bucket = x.bucket
      JOIN bands y ON y.b = x.b AND y.bucket = x.bucket
                   AND x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(count(*)::DOUBLE /
                 (any_value(sa.sz) + any_value(sb.sz) - count(*)), 6) AS jaccard
    FROM cands c
    JOIN e sa ON sa.doc_id = c.id_a
    JOIN e sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY c.id_a, c.id_b
    HAVING round(count(*)::DOUBLE /
                 (any_value(sa.sz) + any_value(sb.sz) - count(*)), 6) >= 0.5
    """,
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 hashes) + LSH(8 bands) candidates verified at Jaccard ≥ 0.5.

    The registered variant keys every hash off md5 (row i =
    md5("i:shingle"), band bucket = md5 of the comma-joined band
    slice) so the ENTIRE pipeline — signatures, banding, hot-bucket cap,
    Jaccard verification — is replayed exactly by the DuckDB oracle;
    ``hash_fn='xxhash64'`` stays the cheaper production default (LSH
    guarantees are hash-agnostic; that path's recall/precision floors
    stay pinned by tests/test_llm_ops.py and dedup_accuracy_contract).
    Dropped bucket/row counts are readable from the attached Observation
    after the query executes.
    """
    from pyspark.sql import Observation

    d = _t(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d,
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_bucket_size=_NEAR_DUP_MAX_BUCKET,
        observation=Observation("minhash_lsh_drops"),
        hash_fn="md5",
    )


@register(
    "simhash_near_dups",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s2 AS (SELECT doc_id,
                  list_distinct(list_transform(
                    range(1, greatest(len(toks) - 1, 0) + 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS shingles
           FROM t),
    e2 AS (SELECT doc_id, unnest(shingles) AS shingle FROM s2),
    h AS (SELECT doc_id,
                 CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS hi,
                 CAST(('0x' || substring(md5(shingle), 9, 8)) AS BIGINT) AS lo
          FROM e2),
    bits AS (SELECT doc_id, j,
                    sum((CASE WHEN j < 32 THEN (lo >> j) & 1
                              ELSE (hi >> (j - 32)) & 1 END) * 2 - 1) AS c
             FROM h CROSS JOIN range(64) r(j)
             GROUP BY doc_id, j),
    sig AS (SELECT doc_id,
                   sum(CASE WHEN c > 0 AND j < 32
                            THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS ulo,
                   sum(CASE WHEN c > 0 AND j >= 32
                            THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS uhi
            FROM bits GROUP BY doc_id),
    blocks AS (SELECT doc_id, uhi, ulo, i,
                      CASE i WHEN 0 THEN ulo & 65535
                             WHEN 1 THEN (ulo >> 16) & 65535
                             WHEN 2 THEN uhi & 65535
                             ELSE (uhi >> 16) & 65535 END AS block
               FROM sig CROSS JOIN range(4) r(i)),
    kept AS (SELECT i, block FROM blocks GROUP BY i, block
             HAVING count(*) > 1 AND count(*) <= {_NEAR_DUP_MAX_BUCKET}),
    cands AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                     x.uhi AS ha, x.ulo AS la, y.uhi AS hb, y.ulo AS lb
              FROM blocks x
              JOIN kept k ON k.i = x.i AND k.block = x.block
              JOIN blocks y ON y.i = x.i AND y.block = x.block
                            AND x.doc_id < y.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS INTEGER)
             AS hamming
    FROM cands
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 3
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near pairs at Hamming ≤ 3 via 16-bit block banding,
    with the default-on hot-block cap + drop-count Observation.

    The registered variant derives the shingle hash from md5 (high/low
    32-bit hex slices assembled two's-complement, ``dedup._md5_long64``)
    so the oracle replays the full signature → block banding → cap →
    Hamming verify chain bit-exactly on the unsigned halves; xxhash64
    stays the production default."""
    from pyspark.sql import Observation

    d = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(
        d,
        "doc_id",
        "text",
        max_hamming=3,
        max_bucket_size=_NEAR_DUP_MAX_BUCKET,
        observation=Observation("simhash_drops"),
        hash_fn="md5",
    )


@register(
    "embedding_near_dup_exact",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
          >= 0.44
    """,
)
def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (the verify twin of the LSH
    variant below). Self cross-join pruned by id ordering."""
    from ..operators.similarity import _spread, dot, norm

    e = _t(spark, sf_dir, "embeddings")
    # norms precomputed once per row (not per pair) — same double, 3× less
    # work — and the stream side is spread across cores so the nested-loop
    # pair scan doesn't run on the single partition a one-file table scans to.
    a = _spread(e).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        norm(F.col("embedding")).alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        norm(F.col("embedding")).alias("_nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.44)
    )


def _plane_values_sql(n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    """The seed-derived hyperplane matrix as a SQL VALUES row list —
    planes are INPUTS of the sketch (like a literal threshold), so
    embedding them lets DuckDB replay the sign-bit bucketing exactly."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    return ", ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes.tolist())
    )


def _embedding_lsh_oracle() -> str:
    """DuckDB oracle for ``embedding_near_dup_lsh``: the 4 seed-derived
    hyperplanes are embedded as float literals (they are inputs, not
    data), so the sign-bit bucket, the hot-bucket cap, and the exact
    cosine verify are all replayed in SQL. Sign agreement between the
    Arrow-batch GEMM and DuckDB's sequential dot fold is exact unless a
    plane dot lands within float-reassociation distance of 0 (~1e-14 of
    an O(1)-magnitude value) — negligible at any tested SF."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT * FROM (VALUES {_plane_values_sql()}) t(i, plane)),
    sk AS (SELECT vec_id,
                  sum(CASE WHEN list_dot_product(v.v, p.plane) > 0
                           THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
           FROM v CROSS JOIN p GROUP BY vec_id),
    kept AS (SELECT bucket FROM sk GROUP BY bucket
             HAVING count(*) > 1 AND count(*) <= {_NEAR_DUP_MAX_BUCKET}),
    cands AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM sk a
              JOIN kept k ON k.bucket = a.bucket
              JOIN sk b ON b.bucket = a.bucket AND a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(va.v, vb.v), 6) AS cosine_sim
    FROM cands c
    JOIN v va ON va.vec_id = c.id_a
    JOIN v vb ON vb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.44
    """


@register("embedding_near_dup_lsh", oracle=_embedding_lsh_oracle())
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup (sign-bit sketch join) — scale
    path, with the default-on hot-bucket cap + drop-count Observation.
    Fully value-checked: the oracle replays the hyperplane sketch from
    literal planes (see ``_embedding_lsh_oracle``)."""
    from pyspark.sql import Observation

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e,
        threshold=0.44,
        n_planes=4,
        max_bucket_size=_NEAR_DUP_MAX_BUCKET,
        observation=Observation("embedding_lsh_drops"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@register(
    "cosine_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
               AS cosine_sim
      FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def cosine_topk_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for 20 query vectors (ANN baseline)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(e, q, k=10).select(
        "query_id", "neighbor_id", "cosine_sim"
    )


def _cosine_topk_lsh_oracle() -> str:
    """Full-value DuckDB replay of ``cosine_topk_lsh_q``: literal
    hyperplanes → sign-bit sketch per vector, each query probes its own
    bucket plus the 4 single-bit-flip buckets (multi_probe=1), distinct
    candidates get exact rounded cosines, row_number picks top-10 with
    the same (sim desc, neighbor asc) tie-break."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT * FROM (VALUES {_plane_values_sql()}) t(i, plane)),
    sk AS (SELECT vec_id,
                  sum(CASE WHEN list_dot_product(v.v, p.plane) > 0
                           THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
           FROM v CROSS JOIN p GROUP BY vec_id),
    qp AS (
      SELECT q.vec_id AS query_id,
             CASE m.m WHEN -1 THEN q.bucket
                  ELSE xor(q.bucket, (CAST(1 AS BIGINT) << m.m)) END AS bucket
      FROM sk q CROSS JOIN (VALUES (-1), (0), (1), (2), (3)) m(m)
      WHERE q.vec_id < 20
    ),
    cand AS (
      SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id
      FROM qp JOIN sk c ON c.bucket = qp.bucket
      WHERE c.vec_id <> qp.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC,
                                            neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """


@register("cosine_topk_lsh", oracle=_cosine_topk_lsh_oracle())
def cosine_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10. Fully value-checked since round
    8: the oracle replays the literal-hyperplane sketch, multi-probe
    bucket set, and exact top-k rerank (recall vs brute force stays
    pinned in tests/test_llm_ops.py + ann_recall_contract)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_lsh(e, q, k=10, n_planes=4).select(
        "query_id", "neighbor_id", "cosine_sim"
    )


@register(
    "cosine_topk_ivf",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT (row_number() OVER (ORDER BY h, vec_id)) - 1 AS cell, v AS cv
      FROM (
        SELECT vec_id, v,
               CAST(('0x' || substring(
                 md5('42:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 AS h
        FROM v ORDER BY h, vec_id LIMIT 16
      )
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.v, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.v, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cents c WHERE vv.vec_id < 20
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
      FROM qprobe q JOIN assign a ON a.cell = q.cell
      WHERE a.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC,
                                            neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def cosine_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: nearest-cell index + multi-cell probing.
    Fully value-checked since round 8: the registered variant seeds its
    coarse quantizer with the md5-ranked corpus vectors
    (``ivf_centroids(hash_fn='md5')``) so the oracle rebuilds the SAME
    index — seeding order, top-1 cell assignment with the
    higher-cell-id tie-break, 4-cell probing, exact cosine rerank —
    entirely in SQL (xxhash64 stays the operator default; recall vs
    brute force stays pinned in tests/test_llm_ops.py +
    ann_recall_contract). The k-means-refined / PQ variants stay
    rows-only: their centroids/codebooks come from iterative float
    optimization no SQL replay can reproduce."""
    from ..operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(
        e, q, k=10, n_cells=16, n_probe=4, hash_fn="md5"
    ).select("query_id", "neighbor_id", "cosine_sim")


def _shared_bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = 8):
    """Run the BPE train for one query invocation.

    Round-8 optimization note: this used to memoize the (merges,
    merge_df, words) result per (sf_dir, data fingerprint) so a second
    query in the same session could skip the train. That made every
    measured invocation after the first skip the compute entirely —
    result caching, not optimization — so the memo was removed: every
    call now trains from the parquet input. The train-once/serve-many
    production split still exists, but as the documented deployment
    pattern, not as hidden cross-query state in the engine."""
    from ..operators.bpe import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), "text", n_merges=n_merges)


def _kmeans_cents_cte(iters: int, n_cells: int = 16, seed: int = 42) -> str:
    """CTE chain replaying ``ivf_centroids(hash_fn='md5')`` +
    ``kmeans_refine(iters)`` in DuckDB, ending at ``c{iters}(cell, cv)``.

    Faithful to the operator step-for-step: md5-ranked seed vectors →
    unit-normalize (seeds AND corpus; zero-norm rows excluded from
    refinement) → per round, dot-product argmax assignment with the
    higher-cell-id tie-break, per-(cell, dim) mean of member UNIT
    vectors rounded to 9 decimals (the operator's jitter guard — the
    rounding is what makes the distributed avg and DuckDB's sequential
    avg agree bit-for-bit), empty cells keep their previous centroid,
    re-normalize. Validated against the operator: rounded means and
    assignments match exactly at sf0.001/sf0.01; final centroids agree
    to 1 ulp (np.linalg.norm vs sqrt-of-fold in the last unit step),
    which only matters at argmax ties that random corpora never hit."""
    parts = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings)",
        """u AS (SELECT vec_id,
             list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS uv
      FROM v WHERE list_dot_product(raw, raw) > 0)""",
        f"""seedsk AS (
      SELECT (row_number() OVER (ORDER BY h, vec_id)) - 1 AS cell, raw
      FROM (SELECT vec_id, raw,
                   CAST(('0x' || substring(md5('{seed}:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM v ORDER BY h, vec_id LIMIT {n_cells}))""",
        """c0 AS (SELECT cell,
             list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw))) AS cv
      FROM seedsk)""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS (
      SELECT vec_id, cell FROM (
        SELECT u.vec_id, c.cell,
               row_number() OVER (PARTITION BY u.vec_id
                 ORDER BY list_dot_product(u.uv, c.cv) DESC, c.cell DESC) AS rn
        FROM u CROSS JOIN c{i - 1} c) WHERE rn = 1)""")
        parts.append(f"""m{i} AS (
      SELECT a.cell, t.pos, round(avg(t.x), 9) AS mv
      FROM a{i} a JOIN (SELECT vec_id, unnest(uv) AS x,
                               generate_subscripts(uv, 1) AS pos FROM u) t
        USING (vec_id)
      GROUP BY a.cell, t.pos)""")
        parts.append(f"""c{i} AS (
      SELECT cell, list_transform(cr, x -> x / sqrt(list_dot_product(cr, cr))) AS cv
      FROM (SELECT c.cell, coalesce(m.ml, c.cv) AS cr
            FROM c{i - 1} c LEFT JOIN (SELECT cell, list(mv ORDER BY pos) AS ml
                                       FROM m{i} GROUP BY cell) m USING (cell)))""")
    return ",\n    ".join(parts)


def _pq_codebook_cte(
    m_sub: int = 8, n_codes: int = 16, d: int = 8, seed: int = 42
) -> str:
    """CTE chain replaying ``pq_train_codebooks(hash_fn='md5', iters=1)``
    in DuckDB, ending at ``cb1(m, code, cv)`` plus the corpus subvector
    relation ``sub(vec_id, m, sv)``.

    Step-for-step: seed codebook = subvector slices of the md5-ranked
    ``n_codes`` corpus vectors; one Lloyd round of squared-L2 argmin
    (ties → LOWEST code, matching numpy argmin's first-occurrence) and
    per-(subspace, code, dim) means rounded to 9 decimals; codes with no
    members keep their seed subvector. Validated bit-exact (128/128
    codebook vectors) against the operator at sf0.001/sf0.01."""
    return f"""v AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
    seedsq AS (
      SELECT (row_number() OVER (ORDER BY h, vec_id)) - 1 AS code, raw
      FROM (SELECT vec_id, raw,
                   CAST(('0x' || substring(md5('{seed}:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM v ORDER BY h, vec_id LIMIT {n_codes})),
    msq AS (SELECT unnest(range(0, {m_sub})) AS m),
    cb0 AS (
      SELECT msq.m, s.code, s.raw[msq.m * {d} + 1 : msq.m * {d} + {d}] AS cv
      FROM seedsq s CROSS JOIN msq),
    sub AS (
      SELECT vec_id, msq.m, raw[msq.m * {d} + 1 : msq.m * {d} + {d}] AS sv
      FROM v CROSS JOIN msq),
    asg0 AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY list_dot_product(
                            list_transform(range(1, {d} + 1), i -> s.sv[i] - c.cv[i]),
                            list_transform(range(1, {d} + 1), i -> s.sv[i] - c.cv[i])) ASC,
                          c.code ASC) AS rn
        FROM sub s JOIN cb0 c USING (m)) WHERE rn = 1),
    updq AS (
      SELECT a.m, a.code, t.pos, round(avg(t.x), 9) AS mv
      FROM asg0 a JOIN (SELECT vec_id, m, unnest(sv) AS x,
                               generate_subscripts(sv, 1) AS pos FROM sub) t
        USING (vec_id, m)
      GROUP BY a.m, a.code, t.pos),
    cb1 AS (
      SELECT c.m, c.code, coalesce(u.ml, c.cv) AS cv
      FROM cb0 c LEFT JOIN (SELECT m, code, list(mv ORDER BY pos) AS ml
                            FROM updq GROUP BY m, code) u USING (m, code))"""


def _pq_search_sql(candidates: str, k: int = 10, rerank_factor: int = 4) -> str:
    """Shared tail of the PQ oracles: encode the corpus against ``cb1``
    (same argmin as training), ADC-score the ``candidates`` relation
    (columns query_id, neighbor_id), take the top ``k·rerank_factor``
    per query by approximate score (ties → neighbor asc), exact-cosine
    rerank rounded to 6, final top-``k``."""
    return f"""
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY list_dot_product(
                            list_transform(range(1, 9), i -> s.sv[i] - c.cv[i]),
                            list_transform(range(1, 9), i -> s.sv[i] - c.cv[i])) ASC,
                          c.code ASC) AS rn
        FROM sub s JOIN cb1 c USING (m)) WHERE rn = 1),
    nrm AS (SELECT vec_id, sqrt(list_dot_product(raw, raw)) AS n FROM v),
    adc AS (
      SELECT cand.query_id, cand.neighbor_id,
             sum(list_dot_product(qs.sv, cb.cv))
               / (qn.n * cn.n) AS approx
      FROM ({candidates}) cand
      JOIN enc e ON e.vec_id = cand.neighbor_id
      JOIN cb1 cb ON cb.m = e.m AND cb.code = e.code
      JOIN sub qs ON qs.vec_id = cand.query_id AND qs.m = e.m
      JOIN nrm qn ON qn.vec_id = cand.query_id
      JOIN nrm cn ON cn.vec_id = cand.neighbor_id
      GROUP BY cand.query_id, cand.neighbor_id, qn.n, cn.n),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, neighbor_id ASC) AS rn
        FROM adc) WHERE rn <= {k * rerank_factor}),
    rerank AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_cosine_similarity(a.raw, b.raw), 6) AS cosine_sim
      FROM shortlist s
      JOIN v a ON a.vec_id = s.query_id
      JOIN v b ON b.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC,
                                            neighbor_id ASC) AS rn
      FROM rerank
    ) WHERE rn <= {k}
    """


def _embeddings_fingerprint(sf_dir: str) -> tuple:
    return _table_fingerprint(sf_dir, "embeddings")


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cheap content fingerprint of a testdata relation under
    ``sf_dir`` — (path, mtime, size) per data file. Regenerating the
    data in place (or pointing a long-lived process at a rewritten
    sf_dir) changes the fingerprint, so stale memoized artifacts
    (PQ codebooks, BPE trains) can never be silently reused across
    dataset versions (ADVICE r6 #3)."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(root):
            files = sorted(
                os.path.join(root, n)
                for n in os.listdir(root)
                if not n.startswith((".", "_"))
            )
        else:
            files = [root]
        return tuple(
            (f, round(os.path.getmtime(f), 3), os.path.getsize(f))
            for f in files
        )
    except OSError:
        return ()


def _shared_pq_codebooks(
    spark: SparkSession,
    sf_dir: str,
    m_sub=8,
    n_codes=16,
    seed=42,
    iters=1,
    hash_fn: str = "md5",
) -> list:
    """Train the PQ codebooks for one query invocation.

    Round-8 optimization note: the per-(sf_dir, fingerprint) memo that
    let later consumers skip the train was removed — every measured
    invocation must pay its own compute from the parquet input (the
    memo made best-of-N bench samples after the first free, which is
    result caching, not engine speed)."""
    from ..operators.similarity import pq_train_codebooks

    return pq_train_codebooks(
        _t(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        m_sub,
        n_codes,
        seed,
        iters,
        hash_fn,
    )


def _cosine_topk_pq_oracle() -> str:
    """Full-value DuckDB replay of ``cosine_topk_pq_q``: md5-seeded
    codebook train (``_pq_codebook_cte``, validated bit-exact vs the
    operator), every (query, corpus) pair ADC-scored, top-40 shortlist,
    exact rerank (``_pq_search_sql``)."""
    candidates = """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id"""
    return f"""
    WITH {_pq_codebook_cte()},
    {_pq_search_sql(candidates)}
    """


@register("cosine_topk_pq", oracle=_cosine_topk_pq_oracle())
def cosine_topk_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 (Jégou et al. 2011): ADC
    scan over 8-byte PQ codes (32× compression) + exact rerank of the
    top-40 candidates, so reported similarities are true cosines. Fully
    value-checked since round 8: the registered variant trains its
    codebooks from the md5-ranked seeds (``hash_fn='md5'``), and the
    oracle re-trains the SAME codebooks in SQL — seeding, one Lloyd
    round of squared-L2 argmin with lowest-code ties, 9-decimal mean
    rounding — then replays encode, ADC scoring, the top-40 shortlist
    and the exact rerank (xxhash64 stays the operator default; recall
    vs brute force stays pinned in ann_recall_contract ('pq' row))."""
    from ..operators.similarity import cosine_topk_pq

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_pq(
        e, q, k=10, m_sub=8, n_codes=16, iters=1, rerank_factor=4,
        codebooks=_shared_pq_codebooks(spark, sf_dir),
    ).select("query_id", "neighbor_id", "cosine_sim")


def _cosine_topk_ivf_pq_oracle() -> str:
    """Full-value DuckDB replay of ``cosine_topk_ivf_pq_q``: the IVF
    coarse quantizer is the same md5-ranked seed set (n_cells == n_codes
    == 16 here, so it coincides with the PQ seeding relation), corpus
    rows take their top-1 cell (ties → higher cell), queries probe their
    top 4; only probed candidates are ADC-scored and reranked."""
    candidates = """SELECT q.query_id, a.vec_id AS neighbor_id
        FROM qprobe q JOIN assignc a ON a.cell = q.cell
        WHERE a.vec_id <> q.query_id"""
    return f"""
    WITH {_pq_codebook_cte()},
    cellsq AS (SELECT code AS cell, raw AS cv FROM seedsq),
    assignc AS (
      SELECT vec_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cellsq c
      ) WHERE rn = 1),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cellsq c WHERE vv.vec_id < 20
      ) WHERE rn <= 4),
    {_pq_search_sql(candidates)}
    """


@register("cosine_topk_ivf_pq", oracle=_cosine_topk_ivf_pq_oracle())
def cosine_topk_ivf_pq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse cells prune which rows get scored, PQ codes make
    each scored row cost m lookups, exact rerank fixes the ordering —
    the canonical billion-scale ANN shape. Fully value-checked since
    round 8: md5-seeded cells AND codebooks let the oracle rebuild the
    whole index in SQL (see ``_cosine_topk_ivf_pq_oracle``); recall
    floor stays pinned in ann_recall_contract ('ivf_pq' row)."""
    from ..operators.similarity import cosine_topk_ivf_pq

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf_pq(
        e, q, k=10, n_cells=16, n_probe=4, m_sub=8, n_codes=16, iters=1,
        codebooks=_shared_pq_codebooks(spark, sf_dir),
        hash_fn="md5",
    ).select("query_id", "neighbor_id", "cosine_sim")


@register(
    "ann_recall_contract",
    oracle="""
    SELECT m AS method,
           (SELECT count(DISTINCT vec_id) FROM embeddings WHERE vec_id < 20)
             AS n_queries,
           TRUE AS recall_floor_met
    FROM (VALUES ('ivf'), ('ivf_kmeans'), ('lsh'), ('pq'), ('ivf_pq')) t(m)
    """,
)
def ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the approximate top-k family.

    Each ANN variant's recall@10 against the exact brute-force baseline
    is computed IN the query and reduced to a boolean against its floor;
    the oracle asserts TRUE, so an ANN regression (bad sketch, broken
    probe, degenerate centroids) flips the driver's hash gate even though
    the raw neighbor lists are engine-specific. n_queries is exact and
    cross-checked. Floors are deliberately below typical observed recall
    (small-probe IVF / 4-plane LSH land well above them at test scales)
    so the contract pins 'works at all', not hash luck.
    """
    from ..operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = (
        cosine_topk_bruteforce(e, q, k=10).select("query_id", "neighbor_id").cache()
    )
    base = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("_n_exact"),
    )

    def row(method: str, approx: DataFrame, floor: float) -> DataFrame:
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "inner")
            .agg(F.count(F.lit(1)).alias("_hits"))
        )
        return base.crossJoin(hits).select(
            F.lit(method).alias("method"),
            "n_queries",
            (F.col("_hits") / F.col("_n_exact") >= floor).alias(
                "recall_floor_met"
            ),
        )

    from ..operators.similarity import cosine_topk_ivf_pq, cosine_topk_pq

    methods = [
        ("ivf", cosine_topk_ivf(e, q, k=10, n_cells=16, n_probe=4), 0.15),
        (
            "ivf_kmeans",
            cosine_topk_ivf(e, q, k=10, n_cells=16, n_probe=4, refine_iters=2),
            0.15,
        ),
        ("lsh", cosine_topk_lsh(e, q, k=10, n_planes=4), 0.15),
        (
            "pq",
            cosine_topk_pq(
                e, q, k=10, m_sub=8, n_codes=16, iters=1, rerank_factor=4,
                codebooks=_shared_pq_codebooks(spark, sf_dir),
            ),
            0.15,
        ),
        (
            "ivf_pq",
            cosine_topk_ivf_pq(
                e, q, k=10, n_cells=16, n_probe=4, m_sub=8, n_codes=16,
                iters=1,
                codebooks=_shared_pq_codebooks(spark, sf_dir),
            ),
            0.15,
        ),
    ]
    out = None
    for m, df, fl in methods:
        r = row(m, df, fl)
        out = r if out is None else out.union(r)
    return out


@register(
    "dedup_accuracy_contract",
    oracle="""
    SELECT m AS method, TRUE AS no_false_positives, TRUE AS recall_floor_met
    FROM (VALUES ('embedding_lsh'), ('minhash'), ('simhash')) t(m)
    """,
)
def dedup_accuracy_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the approximate dedup family.

    - minhash: emitted pairs are exact-Jaccard-verified, so they must be
      a SUBSET of the exact pair set (zero false positives — a hard
      invariant, not a probabilistic one), with recall ≥ floor.
    - simhash: every emitted pair must respect the Hamming bound, with
      recall vs near-identical (J ≥ 0.9) exact pairs ≥ floor.
    - embedding_lsh: cosine-verified, so subset of the exact
      embedding-near-dup set, with recall ≥ floor.
    The oracle asserts all booleans TRUE.
    """
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")

    def pair_set(df: DataFrame) -> DataFrame:
        return df.select("id_a", "id_b")

    def contract_row(
        method: str,
        approx: DataFrame,
        exact: DataFrame,
        floor: float,
        fp_ok: DataFrame | None = None,
    ) -> DataFrame:
        ok = (
            fp_ok
            if fp_ok is not None
            else pair_set(approx)
            .join(exact, ["id_a", "id_b"], "left_anti")
            .agg((F.count(F.lit(1)) == 0).alias("_ok"))
        )
        hits = (
            pair_set(approx)
            .join(exact, ["id_a", "id_b"], "inner")
            .agg(F.count(F.lit(1)).alias("_hits"))
        )
        n = exact.agg(F.count(F.lit(1)).alias("_n"))
        return (
            ok.crossJoin(hits)
            .crossJoin(n)
            .select(
                F.lit(method).alias("method"),
                F.col("_ok").alias("no_false_positives"),
                (F.col("_hits") / F.col("_n") >= floor).alias(
                    "recall_floor_met"
                ),
            )
        )

    exact_j5 = pair_set(ngram_jaccard_pairs(d, threshold=0.5)).cache()
    exact_j9 = pair_set(ngram_jaccard_pairs(d, threshold=0.9)).cache()
    exact_emb = pair_set(embedding_near_dup_exact(spark, sf_dir)).cache()

    mh = minhash_dedup_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    sh = simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    el = embedding_near_dup_pairs(e, threshold=0.44, n_planes=4)

    # simhash's no-false-positive invariant is its own Hamming bound
    sh_ok = sh.agg(
        F.coalesce(F.max("hamming") <= 3, F.lit(True)).alias("_ok")
    )

    # floors sit well under observed recall at sf0.001/sf0.01 (embedding
    # LSH with 4 planes recalls ~0.18-0.2 of the 0.44-threshold pairs;
    # minhash 1.0; simhash 0.52-0.70) — they pin 'works', not hash luck
    rows = [
        contract_row("embedding_lsh", el, exact_emb, 0.1),
        contract_row("minhash", mh, exact_j5, 0.7),
        contract_row("simhash", sh, exact_j9, 0.4, fp_ok=sh_ok),
    ]
    out = None
    for r in rows:
        out = r if out is None else out.union(r)
    return out


def _cosine_topk_ivf_kmeans_oracle() -> str:
    """Full-value DuckDB replay of ``cosine_topk_ivf_kmeans_q``: the
    2-round spherical-k-means refinement is re-run in SQL
    (``_kmeans_cents_cte`` — the 9-decimal mean rounding inside
    ``kmeans_refine`` is what makes the distributed and sequential avgs
    agree), then the same assignment / 4-cell probe / exact-rerank tail
    as the plain IVF oracle, against the refined centroids."""
    return f"""
    WITH {_kmeans_cents_cte(2)},
    assignk AS (
      SELECT vec_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN c2 c
      ) WHERE rn = 1),
    qprobek AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN c2 c WHERE vv.vec_id < 20
      ) WHERE rn <= 4),
    cand AS (
      SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
      FROM qprobek q JOIN assignk a ON a.cell = q.cell
      WHERE a.vec_id <> q.query_id),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(a.raw, b.raw), 6) AS cosine_sim
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC,
                                            neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """


@register("cosine_topk_ivf_kmeans", oracle=_cosine_topk_ivf_kmeans_oracle())
def cosine_topk_ivf_kmeans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 with distributed spherical-k-means-refined centroids
    (operators/similarity.py kmeans_refine): 2 Lloyd's rounds — GEMM
    assignment pass + mergeable (cell, dim) partial-mean shuffle per
    round. Fully value-checked since round 8: md5-ranked seeding plus
    the operator's own 9-decimal mean rounding make both Lloyd rounds
    SQL-replayable (see ``_cosine_topk_ivf_kmeans_oracle``); recall vs
    brute force stays pinned in tests/test_llm_ops.py."""
    from ..operators.similarity import cosine_topk_ivf

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf(
        e, q, k=10, n_cells=16, n_probe=4, refine_iters=2, hash_fn="md5"
    ).select("query_id", "neighbor_id", "cosine_sim")


@register(
    "cosine_topk_ivf_incremental",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS raw FROM embeddings),
    cents AS (
      SELECT (row_number() OVER (ORDER BY h, vec_id)) - 1 AS cell, raw AS cv
      FROM (
        SELECT vec_id, raw,
               CAST(('0x' || substring(
                 md5('42:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 AS h
        FROM v WHERE vec_id % 10 < 8 ORDER BY h, vec_id LIMIT 16
      )
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vv.vec_id, c.cell,
               row_number() OVER (PARTITION BY vv.vec_id
                 ORDER BY list_dot_product(vv.raw, c.cv) DESC,
                          c.cell DESC) AS rn
        FROM v vv CROSS JOIN cents c WHERE vv.vec_id < 20
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
      FROM qprobe q JOIN assign a ON a.cell = q.cell
      WHERE a.vec_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(a.raw, b.raw), 6) AS cosine_sim
      FROM cand
      JOIN v a ON a.vec_id = cand.query_id
      JOIN v b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC,
                                            neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def cosine_topk_ivf_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index's APPEND invariant, oracle-checked: an index built
    from the base corpus (vec_id % 10 < 8) and then grown by appending
    the remaining 20% of vectors against the FROZEN quantizer serves
    exactly the results of a full rebuild under the same centroids —
    the correctness contract behind ``ivf_index_append`` and the
    streaming maintainer ``start_online_ivf_index`` (whose
    filesystem/idempotency behavior is pinned in
    tests/test_streaming_ann.py; this query pins the math in-plan, so
    the driver's hash gate covers it at every sf). Centroids are
    md5-ranked over the BASE only — appended vectors never retrain the
    quantizer, which is precisely what makes the append path a narrow
    per-batch assignment pass at 100 TB instead of a rebuild."""
    from ..operators.similarity import (
        cosine_topk_ivf_from_index,
        ivf_assign,
        ivf_centroids,
    )

    e = _t(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 10 < 8)
    delta = e.filter(F.col("vec_id") % 10 >= 8)
    cents = ivf_centroids(base, "vec_id", "embedding", 16, 42, "md5")
    index = ivf_assign(base, cents).unionByName(ivf_assign(delta, cents))
    q = e.filter(F.col("vec_id") < 20)
    return cosine_topk_ivf_from_index(index, q, cents, k=10, n_probe=4).select(
        "query_id", "neighbor_id", "cosine_sim"
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "doc_token_stats",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len({_TOKS})), 6) AS avg_tokens,
           min(len({_TOKS})) AS min_tokens,
           max(len({_TOKS})) AS max_tokens
    FROM documents GROUP BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counts aggregated per language label."""
    from ..operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(n), 6).alias("avg_tokens"),
        F.min(n).cast("long").alias("min_tokens"),
        F.max(n).cast("long").alias("max_tokens"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars_q,
             len({_TOKS}) AS n_tokens,
             CASE WHEN len({_TOKS}) > 0
                  THEN length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len({_TOKS})
                  ELSE 0.0 END AS avg_token_len,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text,
                        '[.,;:!?''"()\\[\\]{{}}<>-]', '', 'g')))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                       / length(text)
                  ELSE 0.0 END AS digit_ratio,
             CASE WHEN len({_TOKS}) > 0
                  THEN len(list_filter({_TOKS},
                        x -> list_contains(['the','and','of','to','is','a'], x)))::DOUBLE
                       / len({_TOKS})
                  ELSE 0.0 END AS stopword_ratio
      FROM documents)
    SELECT doc_id, n_chars_q, n_tokens,
           round(avg_token_len, 4) AS avg_token_len,
           round(punct_ratio, 4) AS punct_ratio,
           round(digit_ratio, 4) AS digit_ratio,
           round(stopword_ratio, 4) AS stopword_ratio,
           round(least(n_tokens / 50.0, 1.0) * 0.4
                 + (1 - least(punct_ratio * 5, 1.0)) * 0.2
                 + (1 - least(digit_ratio * 5, 1.0)) * 0.2
                 + least(stopword_ratio * 4, 1.0) * 0.2, 4) AS quality_score
    FROM f
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/digit/stopword quality features + composite score."""
    d = _t(spark, sf_dir, "documents")
    out = quality_score(d)
    return out.select(
        "doc_id",
        F.col("n_chars_q").cast("long").alias("n_chars_q"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_token_len", 4).alias("avg_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        "quality_score",
    )


_LANG_LISTS = {
    "de": "['der','die','und','das','nicht','ist']",
    "en": "['the','and','of','to','is','a']",
    "es": "['el','la','de','que','los','es']",
    "fr": "['le','la','les','des','est','une']",
    "zh": "['de','shi','le','bu','wo','zai']",
}
_SCORE_SQL = {
    lang: f"len(list_filter({_TOKS}, x -> list_contains({lst}, x)))"
    for lang, lst in _LANG_LISTS.items()
}
_MAX_SQL = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(_SCORE_SQL)) + ")"
_PRED_SQL = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = {_MAX_SQL} THEN '{lang}'" for lang in sorted(_SCORE_SQL)
    )
    + " END"
)


@register(
    "doc_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {', '.join(f'{sql} AS s_{lang}' for lang, sql in sorted(_SCORE_SQL.items()))}
      FROM documents)
    SELECT doc_id, labeled_lang,
           {', '.join(f's_{lang} AS score_{lang}' for lang in sorted(_SCORE_SQL))},
           {_PRED_SQL} AS predicted_lang
    FROM scored
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language scores + argmax with
    alphabetical tie-break."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("labeled_lang"), "text"
    )
    return language_id(d, "text").drop("text")


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content md5 fingerprints (portable across engines)."""
    d = _t(spark, sf_dir, "documents")
    return fingerprint(d, "text").select("doc_id", "fingerprint")


@register(
    "doc_rolling_fingerprints",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_filter(string_split_regex({_NORM_TEXT}, ''), c -> c <> ''),
                 c -> CAST(ord(c) AS BIGINT))),
             (acc, code) -> (acc * 31 + code) % 2147483647) AS rolling_fp
    FROM documents
    """,
)
def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling-hash fingerprints over normalized
    text — integer-exact on both engines (same left fold, same modulus)."""
    from ..operators.text import rolling_fingerprint

    d = _t(spark, sf_dir, "documents")
    return rolling_fingerprint(d, "text").select("doc_id", "rolling_fp")


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NORM_TEXT} AS nt FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_transform(
               range(1, len(nt) - 5 + 2),
               i -> CAST(('0x' || substring(md5(substring(nt, i, 5)), 1, 15))
                         AS BIGINT)) AS h
      FROM t WHERE len(nt) >= 5
    ),
    w AS (
      SELECT doc_id,
             list_transform(range(1, len(h) - 4 + 2),
                            j -> list_min(h[j:j+3])) AS mins
      FROM g WHERE len(h) >= 4
    )
    SELECT doc_id, unnest(list_distinct(mins)) AS fingerprint FROM w
    """,
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (MOSS algorithm) per document — the
    substring-match-guaranteeing rolling-hash selection; one codegen'd
    array pipeline per row, exploded here for inverted-index shape.
    Keyed by md5 k-gram hashes so the oracle replays the SAME k-gram →
    window-min → distinct selection and every emitted fingerprint is
    value-hashed (``hash='xxhash64'`` remains the cheaper production
    default — the winnowing guarantee is hash-agnostic). Coverage /
    guarantee properties additionally pinned in tests/test_llm_ops.py."""
    from ..operators.similarity import _spread
    from ..operators.text import normalize_text, winnow_fingerprints

    # higher-order array lambdas run interpreted — spread the one-file scan
    # across cores before the per-row O(len·window) fingerprint pipeline
    d = _spread(_t(spark, sf_dir, "documents"))
    fps = winnow_fingerprints(
        normalize_text(F.col("text")), k=5, window=4, hash="md5"
    )
    return d.select("doc_id", F.explode(fps).alias("fingerprint"))


@register(
    "doc_bpe_token_counts",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '\w+|[^\w\s]+')) AS BIGINT)
             AS bpe_tokens
    FROM documents
    """,
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counts (split on whitespace + word/non-word
    boundaries — a cheap byte-level-BPE proxy). The Spark side uses
    lookaround splits, which RE2 lacks — but the resulting count equals
    the number of maximal word / non-word-non-space runs, which IS
    RE2-expressible (``\\w+|[^\\w\\s]+``), so the oracle counts matches of
    that alternation; exact values are also pinned on known strings in
    tests/test_llm_ops.py."""
    from ..operators.text import bpe_ish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "media_metadata_summary",
    oracle="""
    SELECT 'image' AS modality,
           count(*) AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           min(octet_length(encode(text))) AS min_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents
    """,
)
def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media table metadata profile (bytes fabricated from text —
    the image/audio libs aren't in this container; SURVEY §7/M7)."""
    d = _t(spark, sf_dir, "documents")
    media = to_media_table(d, "doc_id", "text", "image")
    return media_metadata_summary(media)


@register(
    "score_event_sequences",
    oracle="""
    SELECT user_id, end_us, round(pred, 6) AS predicted_value
    FROM (
      SELECT user_id, epoch_us(ts) AS end_us,
             avg(value) OVER w AS pred,
             count(*)   OVER w AS cnt,
             lead(ts, 1) OVER wo AS nxt
      FROM events WHERE user_id < 20
      WINDOW
        w  AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
        wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    ) WHERE cnt = 24 AND nxt IS NOT NULL
    """,
)
def score_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model scoring (U4's scale path): trailing-24 sequences per
    user through Arrow-batched mapInPandas with a deterministic linear
    head — the distributed replacement for the reference's driver-side
    per-request inference loop (spark.py:1370-1574).

    The bundled head is uniform weights 1/24, i.e. the window mean — so
    the whole mapInPandas inference path is oracle-checkable against a
    SQL trailing-mean at 6-decimal rounding (numpy's pairwise summation
    vs SQL's sequential sum differ only at ~1e-13)."""
    from ..operators.inference import score_sequences
    from ..operators.sequences import build_sequences

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    seqs = build_sequences(
        ev,
        key_cols=("user_id",),
        ts_col="ts",
        feature_cols=("value",),
        seq_len=24,
        forecast_len=1,
        ts_as_string=False,
        tiebreak_cols=("event_id",),
    )
    scored = score_sequences(seqs, ["user_id"], seq_len=24)
    return scored.select(
        "user_id",
        F.unix_micros("end_timestamp").alias("end_us"),
        F.round("predicted_value", 6).alias("predicted_value"),
    )


_BM25_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
corpus AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM base
),
hits AS (
  SELECT doc_id, dl, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
  WHERE tok IN ('spark', 'join', 'vector')
  GROUP BY doc_id, dl, tok
),
dfreq AS (SELECT term, count(*) AS df_t FROM hits GROUP BY term),
w AS (
  SELECT h.doc_id, h.term,
         ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
           * (h.tf * 2.2)
           / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS wt
  FROM hits h JOIN dfreq d USING (term) CROSS JOIN corpus c
),
s AS (
  SELECT doc_id,
         list_reduce(list(wt ORDER BY term), (a, b) -> a + b) AS bm25,
         count(*) AS n_matched_terms
  FROM w GROUP BY doc_id
)
SELECT doc_id, round(bm25, 6) AS bm25,
       cast(n_matched_terms AS BIGINT) AS n_matched_terms
FROM s ORDER BY round(bm25, 6) DESC, doc_id LIMIT 20
"""


@register("doc_bm25_search", oracle=_BM25_ORACLE)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-20 documents for the query bag
    {spark, join, vector} — the pre-embedding retrieval stage of a RAG /
    curation pipeline. The token explode is filtered to the query terms
    BEFORE any shuffle (the aggregated relation is |docs ∩ terms| rows,
    not the corpus token stream), per-term df is a broadcast-sized
    aggregate, corpus scalars ride a 1-row cross join, and the per-doc
    term weights fold in sorted term order so float addition is
    order-deterministic across partitionings and engines."""
    from ..operators.text import bm25_scores

    d = _t(spark, sf_dir, "documents")
    scored = bm25_scores(d, ["spark", "join", "vector"])
    return (
        scored.select(
            "doc_id",
            F.round("bm25", 6).alias("bm25"),
            F.col("n_matched_terms").cast("long").alias("n_matched_terms"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "autoregressive_forecast_hourly",
    oracle="""
    WITH RECURSIVE ranked AS (
      SELECT user_id, value, epoch(ts) AS es, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id < 20
    ),
    ctx AS (
      SELECT user_id,
             CAST(max(CASE WHEN rn = 1 THEN floor(es) END) AS BIGINT)
               AS last_es,
             list(CAST(floor(value * 100) AS BIGINT) ORDER BY rn DESC)
               AS win
      FROM ranked WHERE rn <= 24
      GROUP BY user_id HAVING count(*) = 24
    ),
    r AS (
      SELECT user_id, last_es, win, 0 AS step,
             CAST(NULL AS BIGINT) AS pred
      FROM ctx
      UNION ALL
      SELECT user_id, last_es,
             list_slice(win, 2, 24)
               || [CAST(list_sum(win) // 24 AS BIGINT)],
             step + 1,
             CAST(list_sum(win) // 24 AS BIGINT)
      FROM r WHERE step < 24
    )
    SELECT user_id,
           (last_es + step * 300) // 3600 * 3600 AS hour_epoch,
           cast(count(*) AS BIGINT) AS steps_in_hour,
           cast(sum(pred) AS BIGINT) AS sum_pred,
           CAST(sum(pred) AS DOUBLE) / count(*) AS avg_pred
    FROM r WHERE step >= 1
    GROUP BY user_id, hour_epoch
    """,
)
def autoregressive_forecast_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autoregressive MULTI-STEP inference parity (round-2 verdict, Next
    #7) — the reference's full prediction loop shape
    (spark.py:1370-1574): latest 24-row context per key → 24 5-minute
    steps predicted autoregressively (each prediction fed back into the
    sliding window) → wall-clock HOURLY rollup of the 5-minute
    predictions, partial first hour included, exactly like the
    reference's ``_aggregate_to_hourly``.

    The head is an integer truncated window-mean, so the whole recursion
    is exact integer arithmetic — the DuckDB oracle replays it with a
    recursive CTE over the same list window and must agree bit-for-bit
    at every step, which pins the rollout order, the window slide, and
    the hour bucketing all at once. The Spark side rolls out ALL keys
    vectorized per Arrow batch (the reference does one location per HTTP
    request, driver-side)."""
    from ..operators.inference import autoregressive_rollout

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ctx = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 24)
    )
    base = (
        ctx.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.unix_timestamp(F.max("ts")).alias("last_es"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "x"))),
                lambda s: s["x"],
            ).alias("window"),
        )
        .filter(F.col("_n") == 24)
        .drop("_n")
    )
    steps = autoregressive_rollout(base, n_steps=24)
    # integer div (not double /) — epochs are positive, so Spark's DIV and
    # DuckDB's // agree exactly
    hour_epoch = F.expr(
        "(last_es + CAST(step AS BIGINT) * 300) DIV 3600"
    ) * F.lit(3600).cast("long")
    return (
        steps.withColumn("hour_epoch", hour_epoch)
        .groupBy("user_id", "hour_epoch")
        .agg(
            F.count(F.lit(1)).alias("steps_in_hour"),
            F.sum("pred").alias("sum_pred"),
            (F.sum("pred").cast("double") / F.count(F.lit(1))).alias(
                "avg_pred"
            ),
        )
    )


@register(
    "media_decode_features",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id,
             8 + doc_id % 8 AS h,
             8 + doc_id % 12 AS w
      FROM documents
    ),
    px AS (
      SELECT media_id, h, w, ((media_id + i) % 256) // 16 AS bin
      FROM t, unnest(range(0, h * w)) AS g(i)
    ),
    hist AS (
      SELECT media_id, any_value(h) AS h, any_value(w) AS w, bin,
             count(*) AS cnt
      FROM px GROUP BY media_id, bin
    )
    SELECT media_id,
           CAST(any_value(w) AS INT) AS width,
           CAST(any_value(h) AS INT) AS height,
           CAST(16 AS INT) AS feature_dim,
           round(sqrt(sum((cnt::DOUBLE / (h * w)) * (cnt::DOUBLE / (h * w)))), 4)
             AS feature_l2,
           round(sum(cnt::DOUBLE / (h * w)), 4) AS feature_sum
    FROM hist GROUP BY media_id
    """,
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → featurize: genuine PNGs (zlib scanlines, rotating
    filters) from the deterministic family ramp, inflated + un-filtered
    by the stdlib codec, then a normalized 16-bin blue-channel histogram
    as the feature vector (the canonical multimodal decode-then-extract
    shape, Arrow-batched end to end). Replaced the round-1 stubbed
    kernel: blue carries the raw ramp value, so every bin count is an
    exact integer and the oracle replays dim / L2 / sum in closed form.
    The driver's pandas canonicalizer cannot sort list cells, so the
    contract entry projects scalar summaries; the raw vector output is
    pinned by tests/test_multimodal.py."""
    from ..operators.multimodal import (
        decode_image_histogram_features,
        fabricate_png_media,
    )

    d = _t(spark, sf_dir, "documents")
    media = fabricate_png_media(d, "doc_id")
    feats = decode_image_histogram_features(media, bins=16)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.size("feature").alias("feature_dim"),
        F.round(
            F.sqrt(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("feature_l2"),
        F.round(
            F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("feature_sum"),
    )


@register(
    "media_frame_samples",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(8 + doc_id % 8 AS INT) AS h,
             CAST(8 + doc_id % 12 AS INT) AS w
      FROM documents WHERE doc_id % 10 = 5
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
      CROSS JOIN (VALUES (0), (2)) fr(f)
      CROSS JOIN range(15) r(i)
      CROSS JOIN range(19) c(i)
      WHERE r.i < m.h AND c.i < m.w
    )
    SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx,
           w AS width, h AS height,
           CAST(h AS BIGINT) * w AS frame_len,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM px GROUP BY doc_id, f, w, h
    """,
)
def media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: animated GIF89a decode (LZW + frame
    compositing — every frame is a delta over the running canvas, so
    decode cannot skip) with every 2nd composited frame kept, one input
    row fanning out to frame rows through mapInPandas. Replaced the
    round-1 byte-stride stub; the lossless codec makes each sampled
    frame's pixel sum integer-exact, replayed by the oracle in closed
    form (base ramp + the f earliest disjoint rect fills). Distinct 10%
    subset (doc_id % 10 = 5) from media_gif_decode's."""
    from ..operators.multimodal import fabricate_gif_media, sample_video_frames

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 5)
    media = fabricate_gif_media(d, "doc_id")
    return sample_video_frames(media, stride=2)


# ---------------------------------------------------------------------------
# Corpus statistics / dataset assembly
# ---------------------------------------------------------------------------

@register(
    "doc_train_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substring(md5({_NORM_TEXT}), 1, 15)) AS BIGINT) % 100 AS b
      FROM documents
    )
    """,
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 content-hash split: stable across runs and
    partitionings (no rand()), and keyed on content so byte-identical
    duplicates can never straddle train/test."""
    from ..operators.text import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "text").select("doc_id", "split")


@register(
    "doc_top_ngrams",
    oracle=f"""
    WITH {_SHINGLES_CTE}
    SELECT shingle AS ngram, count(*) AS doc_freq
    FROM e GROUP BY shingle
    ORDER BY doc_freq DESC, ngram ASC LIMIT 20
    """,
)
def doc_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 3-gram document frequencies — the boilerplate
    detector feeding hot-shingle drop lists (the skew guard for the
    Jaccard self-join). explode → partial-agg count → TakeOrdered top-k;
    deterministic ngram-asc tie-break."""
    from ..operators.dedup import shingle_sets

    d = _t(spark, sf_dir, "documents")
    sets = shingle_sets(d, "doc_id", "text", n=3)
    return (
        sets.select(F.explode("shingles").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(20)
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             round(tf.tf * (ln((n.n_docs + 1.0) / (dfc.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfc USING (token), n
    )
    SELECT doc_id, token, tf, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, token ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, deterministic
    tie-break). Two hash aggs + a broadcast scalar + per-doc window top-k;
    the df side joins back pre-aggregated (one row per term, not per
    posting)."""
    from ..operators.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=3)


@register(
    "doc_repetition_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
    tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
    uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens_r,
                   count(*) AS n_distinct, max(c) AS max_tf
            FROM tf GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                                 i -> toks[i] || ' ' || toks[i+1]) AS bgs
           FROM t),
    bge AS (SELECT doc_id, unnest(bgs) AS b FROM bg),
    bf AS (SELECT doc_id, b, count(*) AS c FROM bge GROUP BY doc_id, b),
    bagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS max_bf
             FROM bf GROUP BY doc_id)
    SELECT u.doc_id, u.n_tokens_r,
           round(u.n_distinct::DOUBLE / u.n_tokens_r, 6) AS distinct_ratio,
           round(u.max_tf::DOUBLE / u.n_tokens_r, 6) AS top_token_frac,
           round(coalesce(b.max_bf::DOUBLE / b.n_bigrams, 0.0), 6) AS top_bigram_frac
    FROM uni u LEFT JOIN bagg b USING (doc_id)
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: distinct-token ratio +
    most-frequent token/bigram fractions (the filters that catch
    keyword-stuffed / looping documents)."""
    from ..operators.text import repetition_features

    d = _t(spark, sf_dir, "documents")
    return repetition_features(d, "doc_id", "text")


@register(
    "source_corpus_profile",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source
    """,
)
def source_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus inventory (docs, bytes, language spread) — the
    first query run against any new crawl dump."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


@register(
    "key_skew_profile",
    oracle="""
    WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM k)
    SELECT user_id, n AS n_rows,
           round(n::DOUBLE / total, 6) AS share,
           round(n::DOUBLE * n_keys / total, 6) AS skew_factor
    FROM k, tot ORDER BY n_rows DESC, user_id ASC LIMIT 10
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostic: top-10 hottest keys with their share
    and skew factor (×uniform). The profile that decides whether a key
    needs salting (operators/skew.py) before the real job runs."""
    ev = _t(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = k.agg(
        F.sum("n_rows").alias("_total"), F.count(F.lit(1)).alias("_n_keys")
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
            F.round(
                F.col("n_rows") * F.col("_n_keys") / F.col("_total"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(10)
    )


@register(
    "embedding_label_centroids",
    oracle="""
    SELECT label, i - 1 AS pos, round(avg(embedding[i]::DOUBLE), 6) AS v
    FROM embeddings CROSS JOIN range(1, 65) t(i)
    GROUP BY label, i
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (long format): posexplode → key×dim hash
    agg — the distributed vector mean whose shuffle is dims×keys partials,
    independent of corpus size."""
    from ..operators.similarity import vector_centroids

    e = _t(spark, sf_dir, "embeddings")
    return vector_centroids(e, "label", "embedding")


@register(
    "embedding_nearest_centroid",
    oracle="""
    WITH cent AS (
      SELECT label, i - 1 AS pos, round(avg(embedding[i]::DOUBLE), 6) AS v
      FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY label, i
    ),
    pe AS (
      SELECT vec_id, i - 1 AS pos, embedding[i]::DOUBLE AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    dots AS (
      SELECT pe.vec_id, cent.label, sum(pe.x * cent.v) AS dot
      FROM pe JOIN cent USING (pos) GROUP BY pe.vec_id, cent.label
    ),
    en AS (SELECT vec_id, sqrt(sum(x * x)) AS nx FROM pe GROUP BY vec_id),
    cn AS (SELECT label, sqrt(sum(v * v)) AS nv FROM cent GROUP BY label),
    scored AS (
      SELECT d.vec_id, d.label,
             round(d.dot / (en.nx * cn.nv), 6) AS cosine_sim
      FROM dots d JOIN en USING (vec_id) JOIN cn USING (label)
    )
    SELECT vec_id, label AS assigned_label, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine_sim DESC, label ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def embedding_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the IVF cell-assignment / centroid
    classification step) as a pure join plan: posexplode × broadcast
    centroid-long join → (vec, label) dot-product hash agg → per-vec
    argmax on the ROUNDED cosine with label tie-break. The matrix
    multiply is a dims-keyed join — no per-row Python, corpus-size
    independent broadcast."""
    from ..operators.similarity import vector_centroids

    e = _t(spark, sf_dir, "embeddings")
    cent = vector_centroids(e, "label", "embedding")
    pe = e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id", F.col("pos").cast("long").alias("pos"), F.col("x").cast("double").alias("x")
    )
    dots = (
        pe.join(F.broadcast(cent), on="pos")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("x") * F.col("v")).alias("dot"))
    )
    en = pe.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nx"))
    cn = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"))
    scored = (
        dots.join(en, on="vec_id")
        .join(F.broadcast(cn), on="label")
        .select(
            "vec_id",
            "label",
            F.round(F.col("dot") / (F.col("nx") * F.col("nv")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine_sim"), F.asc("label"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("label").alias("assigned_label"), "cosine_sim")
    )


@register(
    "doc_systematic_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x' || substring(md5({_NORM_TEXT}), 1, 15)) AS BIGINT) % 20 = 0
    """,
)
def doc_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% systematic sample: content-hash bucket 0 of 20.
    Unlike df.sample() this is reproducible across engines/runs/partition
    layouts AND consistent for duplicate content — the sampling primitive
    for eval-holdout carving and quick corpus estimates."""
    from ..operators.text import normalize_text

    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(normalize_text(F.col("text"))), 1, 15), 16, 10)
        .cast("long")
        % 20
    )
    return d.filter(bucket == 0).select("doc_id", "lang", "n_chars")


@register(
    "doc_mix_to_spec",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= CASE source WHEN 'src0' THEN 20
                            WHEN 'src1' THEN 12
                            ELSE 3 END
    """,
)
def doc_mix_to_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing to target proportions — the data-mix
    step of a training pipeline (upweight src0, downweight the long
    tail): per-source quotas filled in content-hash order via the shared
    WindowGroupLimit rank, so the same spec always selects the same
    documents on any engine or partition layout. Sources with fewer docs
    than quota contribute everything they have (under-sampling is
    visible, not silently repaired)."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    quota = (
        F.when(F.col("source") == "src0", 20)
        .when(F.col("source") == "src1", 12)
        .otherwise(3)
    )
    ranked = d.select(
        "doc_id",
        "source",
        quota.alias("_q"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.asc("_h"), F.asc("doc_id"))
    )
    return (
        ranked.withColumn("_rn", rn)
        .filter(F.col("_rn") <= F.col("_q"))
        .select("doc_id", "source")
    )


@register(
    "doc_cross_split_contamination",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(count(*)::DOUBLE /
                   (any_value(a.sz) + any_value(b.sz) - count(*)), 6) AS jaccard
      FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING round(count(*)::DOUBLE /
                   (any_value(a.sz) + any_value(b.sz) - count(*)), 6) >= 0.5
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(('0x' || substring(md5({_NORM_TEXT}), 1, 15)) AS BIGINT)
                 % 100 AS b
        FROM documents
      )
    )
    SELECT p.id_a, sa.split AS split_a, p.id_b, sb.split AS split_b, p.jaccard
    FROM pairs p
    JOIN sp sa ON p.id_a = sa.doc_id
    JOIN sp sb ON p.id_b = sb.doc_id
    WHERE sa.split <> sb.split
    """,
)
def doc_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination check: near-dup pairs whose members landed
    in DIFFERENT splits. Exact duplicates cannot straddle a content-hash
    split by construction (doc_train_test_split), but near-duplicates get
    distinct hashes and can — these pairs are exactly the train→eval
    leakage a decontamination pass must drop. Broadcast-joins the (tiny)
    pair list against the split projection; the corpus is never
    re-shuffled."""
    from ..operators.text import hash_split

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5)
    splits = hash_split(d, "text", "split").select("doc_id", "split")
    out = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return out.select("id_a", "split_a", "id_b", "split_b", "jaccard")


@register(
    "doc_sentences_udtf",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                        x -> trim(x)),
                         x -> x <> '') AS parts
      FROM documents
    )
    SELECT doc_id,
           CAST(generate_subscripts(parts, 1) - 1 AS INTEGER) AS sentence_idx,
           unnest(parts) AS sentence,
           CAST(len(list_filter(regexp_split_to_array(unnest(parts), '\\s+'),
                                x -> x <> '')) AS INTEGER) AS n_words
    FROM s
    """,
)
def doc_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) applied via LATERAL join — one row per
    sentence with index and word count. Row-at-a-time Python: the point is
    the extension surface (multi-row output per input row), not the hot
    path; the oracle reproduces the same split relationally."""
    from ..functions.python_udfs import SentenceSplit

    spark.udtf.register("sentence_split", SentenceSplit)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence, s.n_words
        FROM docs_udtf d, LATERAL sentence_split(d.text) s
        """
    )


_QUALITY_SCORE_SQL = f"""
    round(least(len({_TOKS}) / 50.0, 1.0) * 0.4
          + (1 - least(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text,
                       '[.,;:!?''"()\\[\\]{{}}<>-]', '', 'g')))::DOUBLE / length(text)
                 ELSE 0.0 END * 5, 1.0)) * 0.2
          + (1 - least(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                      / length(text)
                 ELSE 0.0 END * 5, 1.0)) * 0.2
          + least(CASE WHEN len({_TOKS}) > 0
                 THEN len(list_filter({_TOKS},
                       x -> list_contains(['the','and','of','to','is','a'], x)))::DOUBLE
                      / len({_TOKS})
                 ELSE 0.0 END * 4, 1.0) * 0.2, 4)
"""


@register(
    "llm_pipeline_end_to_end",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, lang, n_chars, {_QUALITY_SCORE_SQL} AS q
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE q >= 0.5),
    winners AS (
      SELECT md5({_NORM_TEXT}) AS ck, min(doc_id) AS doc_id
      FROM kept GROUP BY 1
    ),
    ded AS (SELECT k.* FROM kept k JOIN winners w ON k.doc_id = w.doc_id),
    assigned AS (
      SELECT *,
             CASE WHEN CAST(('0x' || substring(md5({_NORM_TEXT}), 1, 15)) AS BIGINT)
                       % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substring(md5({_NORM_TEXT}), 1, 15)) AS BIGINT)
                       % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM ded
    )
    SELECT split, lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
    FROM assigned GROUP BY split, lang
    """,
)
def llm_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline COMPOSED: quality filter (score ≥
    0.5) → exact dedup (smallest-id winner) → deterministic hash split →
    per-(split, lang) inventory. Every stage is the already-oracled
    operator; this entry pins that they compose without interference —
    one declarative plan end to end, no materialization between stages."""
    from ..operators.dedup import exact_dedup
    from ..operators.text import hash_split

    d = _t(spark, sf_dir, "documents")
    kept = quality_score(d).filter(F.col("quality_score") >= 0.5)
    ded = exact_dedup(kept, "doc_id", "text")
    assigned = hash_split(ded, "text")
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


@register(
    "doc_span_corruption",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id, toks, len(toks) AS n,
             list_filter(
               list_transform(range(1, len(toks) + 1), i ->
                 CASE WHEN (i - 1) % 13 BETWEEN 5 AND 7 THEN
                   CASE WHEN (i - 1) % 13 = 5
                        THEN '<extra_id_' || cast((i - 1) // 13 AS VARCHAR) || '>'
                   END
                 ELSE toks[i] END),
               x -> x IS NOT NULL) AS inp,
             list_filter(
               list_transform(range(1, len(toks) + 1), i ->
                 CASE WHEN (i - 1) % 13 = 5
                      THEN '<extra_id_' || cast((i - 1) // 13 AS VARCHAR) || '> ' || toks[i]
                      WHEN (i - 1) % 13 BETWEEN 6 AND 7 THEN toks[i]
                 END),
               x -> x IS NOT NULL) AS tgt
      FROM t
    )
    SELECT doc_id,
           md5(array_to_string(inp, ' ')) AS input_md5,
           md5(array_to_string(tgt, ' ')) AS target_md5,
           cast((n + 7) // 13 AS BIGINT) AS n_spans,
           cast(len(toks) - len(inp) + (n + 7) // 13 AS BIGINT)
             AS n_masked_tokens
    FROM m
    """,
)
def doc_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption as PURE array algebra: deterministic
    3-token spans (positions ≡ 5,6,7 mod 13) are cut from the token
    stream; the input keeps one ``<extra_id_k>`` sentinel per span, the
    target is the sentinel-tagged masked text — the (input, target)
    pair a denoising LM trains on. Deterministic positions (not rand())
    make the pairs reproducible across engines/runs/partitionings; a
    seeded-hash mask would slot into the same expressions. No UDF: two
    positional transforms + filters per doc, embarrassingly parallel.

    Hashes (not raw strings) are emitted so the gate compares bytes
    without shipping whole corrupted documents through the canon.
    """
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size("toks")
    # sequence(1, 0) would yield the DESCENDING array [1, 0] for a
    # zero-token document, and element_at(toks, 0) then raises (array
    # indices are 1-based) — guard to an empty position list so empty
    # documents produce empty (input, target) pairs like the oracle's
    # empty range(1, 1).
    pos = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    span_id = lambda i: ((i - 1) / 13).cast("int")  # noqa: E731
    off = lambda i: (i - 1) % 13  # noqa: E731
    sentinel = lambda i: F.concat(  # noqa: E731
        F.lit("<extra_id_"), span_id(i).cast("string"), F.lit(">")
    )
    tok_at = lambda i: F.element_at("toks", i)  # noqa: E731
    inp = F.filter(
        F.transform(
            pos,
            lambda i: F.when(off(i) == 5, sentinel(i))
            .when(off(i).between(6, 7), F.lit(None))
            .otherwise(tok_at(i)),
        ),
        lambda x: x.isNotNull(),
    )
    tgt = F.filter(
        F.transform(
            pos,
            lambda i: F.when(
                off(i) == 5, F.concat(sentinel(i), F.lit(" "), tok_at(i))
            ).when(off(i).between(6, 7), tok_at(i)),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.md5(F.array_join(inp, " ")).alias("input_md5"),
            F.md5(F.array_join(tgt, " ")).alias("target_md5"),
            ((n + 7) / 13).cast("long").alias("n_spans"),
            (n - F.size(inp) + ((n + 7) / 13).cast("long")).cast("long").alias(
                "n_masked_tokens"
            ),
        )
    )


@register(
    "langid_confusion_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS labeled_lang,
             {', '.join(f'{sql} AS s_{lang}' for lang, sql in sorted(_SCORE_SQL.items()))}
      FROM documents)
    SELECT labeled_lang, {_PRED_SQL} AS predicted_lang,
           cast(count(*) AS BIGINT) AS n_docs
    FROM scored GROUP BY labeled_lang, predicted_lang
    """,
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-quality confusion matrix for the stopword language-ID:
    labeled × predicted counts — the per-class error profile every
    heuristic classifier ships with (aggregate accuracy hides which
    languages bleed into which). Reuses the verified scorer; one extra
    aggregation."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("labeled_lang"), "text"
    )
    pred = language_id(d, "text")
    return pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _bpe_train_cte(n_merges: int = 8) -> str:
    """CTE chain replaying BPE TRAINING in DuckDB (round 8; previously
    rows-only as an 'iterative trainer with no SQL twin' — but unlike
    the float trainers, BPE state is integer counts and strings, so the
    sequential Sennrich loop unrolls into exact SQL; the operator's
    batched candidate acceptance is proven output-identical to the
    sequential loop, which is what this replays). Per merge round i:
    pair counts over the vocabulary (``p{{i}}``), the winner under the
    (count desc, left asc, right asc) tie-break (``b{{i}}``), and the
    greedy left-to-right non-overlapping fold-apply as a per-word
    recursive scan (``s{{i}}``: emit the merged token and skip 2, or
    emit one symbol and advance — the recursive-CTE form of
    ``_apply_merge``'s carry fold). Round CTEs are MATERIALIZED so the
    8-round chain doesn't replan exponentially. Ends with the merge
    winners ``b1..b{{n}}`` and the fully-merged vocabulary
    ``w{{n}}(word, cnt, syms)`` — the encode of every corpus word.
    Validated merge-for-merge against the operator at sf0.001/sf0.01.
    Requires ``WITH RECURSIVE``."""
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
    parts = [f"""w0 AS MATERIALIZED (
      SELECT word, count(*) AS cnt,
             list_filter(regexp_split_to_array(word, ''), c -> c <> '') AS syms
      FROM (SELECT unnest({toks}) AS word FROM documents)
      GROUP BY word)"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
      SELECT l, r, sum(cnt) AS n FROM (
        SELECT w.cnt, w.syms[t.k] AS l, w.syms[t.k + 1] AS r
        FROM w{i - 1} w, LATERAL (SELECT unnest(range(1, len(w.syms))) AS k) t
      ) GROUP BY l, r)""")
        parts.append(f"""b{i} AS MATERIALIZED (
      SELECT l, r, n FROM p{i} ORDER BY n DESC, l ASC, r ASC LIMIT 1)""")
        parts.append(f"""s{i}(word, k, out) AS (
      SELECT word, 1, []::VARCHAR[] FROM w{i - 1}
      UNION ALL
      SELECT s.word,
             CASE WHEN w.syms[s.k] = b.l AND s.k < len(w.syms)
                       AND w.syms[s.k + 1] = b.r
                  THEN s.k + 2 ELSE s.k + 1 END,
             CASE WHEN w.syms[s.k] = b.l AND s.k < len(w.syms)
                       AND w.syms[s.k + 1] = b.r
                  THEN list_append(s.out, b.l || b.r)
                  ELSE list_append(s.out, w.syms[s.k]) END
      FROM s{i} s JOIN w{i - 1} w USING (word) CROSS JOIN b{i} b
      WHERE s.k <= len(w.syms))""")
        parts.append(f"""w{i} AS MATERIALIZED (
      SELECT s.word, w.cnt, s.out AS syms
      FROM s{i} s JOIN w{i - 1} w USING (word)
      WHERE s.k > len(w.syms))""")
    return ",\n    ".join(parts)


def _doc_bpe_merge_table_oracle(n_merges: int = 8) -> str:
    """Full-value DuckDB replay of the BPE merge table: the training
    chain (``_bpe_train_cte``), merge winners unioned in rank order."""
    union = "\n      UNION ALL ".join(
        f'SELECT {i} AS rank, l AS "left", r AS "right", '
        f"CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        "WITH RECURSIVE "
        + _bpe_train_cte(n_merges)
        + f"\n    SELECT * FROM ({union}) ORDER BY rank"
    )


@register("doc_bpe_merge_table", oracle=_doc_bpe_merge_table_oracle())
def doc_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016) over the
    corpus: 8 merge rules learned by iterated pair-count → argmax →
    fold-apply rounds on the (word, count) vocabulary relation — the
    tokenizer-training stage of an LLM pipeline, with per-round cost
    O(|vocabulary|) independent of corpus size. Deterministic tie-breaks;
    exact agreement with a pure-Python reference trainer (and the classic
    low/lower/newest/widest example) is pinned in tests/test_llm_ops.py,
    and — since round 8 — the WHOLE train is value-checked against a
    DuckDB replay of the sequential loop
    (``_doc_bpe_merge_table_oracle``). The train is session-memoized
    (``_shared_bpe_train``) and shared with the encode query — the
    train-once/serve-many split of a production tokenizer."""
    _, merge_df, _ = _shared_bpe_train(spark, sf_dir, n_merges=8)
    return merge_df


def _doc_bpe_encode_stats_oracle(n_merges: int = 8) -> str:
    """Full-value DuckDB replay of train-then-ENCODE: the training chain
    ends with ``w{n}`` — every corpus word already carries its final
    symbol sequence, and ``bpe_encode``'s rank-order fold over a corpus
    word is by construction the same sequence — so per-doc trained-token
    counts are one tokenize → vocab join → sum. Docs with no tokens keep
    a zero row via the LEFT JOIN (matching ``size(bpe_tokens)`` = 0)."""
    toks = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
    return (
        "WITH RECURSIVE "
        + _bpe_train_cte(n_merges)
        + f""",
    dt AS (SELECT doc_id, unnest({toks}) AS word FROM documents),
    perdoc AS (
      SELECT d.doc_id, d.lang, COALESCE(s.tok, 0) AS tok
      FROM documents d
      LEFT JOIN (
        SELECT dt.doc_id, CAST(sum(len(w.syms)) AS BIGINT) AS tok
        FROM dt JOIN w{n_merges} w USING (word)
        GROUP BY dt.doc_id
      ) s USING (doc_id))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_tokens,
           round(avg(tok), 6) AS avg_tokens,
           CAST(max(tok) AS BIGINT) AS max_tokens
    FROM perdoc GROUP BY lang
    """
    )


@register("doc_bpe_encode_stats", oracle=_doc_bpe_encode_stats_oracle())
def doc_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the 8-merge BPE tokenizer on the corpus, then ENCODE the
    corpus with it — the full tokenizer train/apply round-trip of an
    LLM data pipeline — and report trained-token counts per language.

    Encode shape: for CORPUS text, every token is by definition in the
    trained vocabulary, whose final symbol sequences bpe_train already
    computed — so the encode is a token explode + BROADCAST join
    against the (word → token count) vocabulary, one narrow pass over
    the token stream with a tiny build side. This replaces the first
    formulation (re-folding all 8 merge rules over every corpus word
    via chained higher-order functions — interpreted, non-codegen,
    ~9× slower at sf0.1) and is the shape that holds at 100 TB: train
    once on the vocabulary, broadcast the model, stream the corpus.
    ``bpe_encode``'s rank-order fold remains the NEW-text path (pinned
    in tests/test_llm_ops.py, incl. equality with this vocab join on
    corpus text). ``explode_outer`` keeps token-less documents as
    zero-token rows. Fully value-checked: the oracle replays training
    AND encode in SQL (``_bpe_train_cte`` — the encode of a corpus
    word IS its final vocabulary entry, the same identity this query
    uses). Train session-memoized via ``_shared_bpe_train``."""
    from ..operators.text import tokens

    _, _, words = _shared_bpe_train(spark, sf_dir, n_merges=8)
    d = _t(spark, sf_dir, "documents")
    vocab = words.select("word", F.size("syms").cast("long").alias("_n"))
    exploded = d.select(
        "doc_id", "lang", F.explode_outer(tokens(F.col("text"))).alias("word")
    )
    per_doc = (
        exploded.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id", "lang")
        .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("_tok"))
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("total_tokens"),
        F.round(F.avg("_tok"), 6).alias("avg_tokens"),
        F.max("_tok").alias("max_tokens"),
    )


@register(
    "doc_stratified_kfold",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 5 AS fold
      FROM documents
    )
    SELECT lang, fold,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(min(doc_id) AS BIGINT) AS min_doc_id
    FROM f GROUP BY lang, fold
    """,
)
def doc_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified 5-fold assignment for cross-validation:
    fold = content-hash of the id mod k, summarized per (stratum, fold).
    Hash assignment (not round-robin) is what keeps folds STABLE when the
    corpus grows — a re-run after appending documents leaves every old
    document in its old fold, so cached fold artifacts stay valid. Pure
    projection + one grouped count."""
    d = _t(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 5
    )
    return (
        d.select("doc_id", "lang", fold.alias("fold"))
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


@register(
    "quality_score_calibration",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             least(9, greatest(0, CAST(floor(
               (0.4 * least(len({_TOKS}) / 50.0, 1.0)
                + 0.6 * (CASE WHEN len({_TOKS}) > 0 THEN
                    len(list_filter({_TOKS}, x -> x IN ('the','and','of','to','is','a')))
                    * 1.0 / len({_TOKS}) ELSE 0 END)) * 10) AS BIGINT)))
               AS bin,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS label,
             (0.4 * least(len({_TOKS}) / 50.0, 1.0)
              + 0.6 * (CASE WHEN len({_TOKS}) > 0 THEN
                  len(list_filter({_TOKS}, x -> x IN ('the','and','of','to','is','a')))
                  * 1.0 / len({_TOKS}) ELSE 0 END)) AS conf
      FROM documents
    ),
    b AS (
      SELECT bin, count(*) AS n,
             sum(label) AS pos,
             CAST(sum(label) AS DOUBLE) / count(*) AS acc,
             avg(conf) AS mean_conf
      FROM t GROUP BY bin
    ),
    tot AS (SELECT sum(n) AS total FROM b)
    SELECT cast((SELECT count(*) FROM b) AS BIGINT) AS n_bins,
           cast((SELECT total FROM tot) AS BIGINT)  AS n_docs,
           round(list_reduce(
             (SELECT list(n * abs(acc - mean_conf) / total ORDER BY bin)
              FROM b, tot) || [0.0::DOUBLE],
             (x, y) -> x + y), 6) AS ece
    """,
)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of a score against an observed label —
    the model-monitoring primitive behind every 'is my classifier
    calibrated' dashboard: bin the score into 10 confidence bins,
    ECE = Σ (n_b/N)·|accuracy_b − mean_confidence_b|. Score = a simple
    token/stopword quality composite; label = long-document indicator
    (a deterministic stand-in — swap in real model scores/labels without
    touching the plumbing). One binning pass + one 10-row aggregate;
    ECE terms fold in bin order (float-add determinism). avg(conf) per
    bin rides on float sums of ≤ a few hundred values — acceptable
    because the final round-6 compare tolerates sub-ulp partial-order
    noise only when it does not straddle a boundary; the mean is over
    non-pathological magnitudes here."""
    from ..operators.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is", "a"))
    )
    conf = 0.4 * F.least(n_tok / 50.0, F.lit(1.0)) + 0.6 * F.when(
        n_tok > 0, sw * 1.0 / n_tok
    ).otherwise(F.lit(0.0))
    t = d.select(
        F.least(
            F.lit(9), F.greatest(F.lit(0), F.floor(conf * 10).cast("long"))
        ).alias("bin"),
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("label"),
        conf.alias("conf"),
    )
    b = t.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").alias("pos"),
        (F.sum("label").cast("double") / F.count(F.lit(1))).alias("acc"),
        F.avg("conf").alias("mean_conf"),
    )
    tot = b.agg(F.sum("n").alias("total"))
    terms = b.crossJoin(F.broadcast(tot)).select(
        "bin",
        (
            F.col("n") * F.abs(F.col("acc") - F.col("mean_conf"))
            / F.col("total")
        ).alias("t"),
    )
    folded = terms.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("bin", "t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("ece"),
    )
    return folded.crossJoin(F.broadcast(tot)).select(
        F.col("n_bins").cast("long").alias("n_bins"),
        F.col("total").cast("long").alias("n_docs"),
        F.round("ece", 6).alias("ece"),
    )


@register(
    "bm25_ndcg_eval",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
    corpus AS (
      SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM base
    ),
    hits AS (
      SELECT doc_id, dl, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
      WHERE tok IN ('spark', 'join', 'vector')
      GROUP BY doc_id, dl, tok
    ),
    dfreq AS (SELECT term, count(*) AS df_t FROM hits GROUP BY term),
    w AS (
      SELECT h.doc_id, h.term,
             ln(1.0 + (c.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * (h.tf * 2.2)
               / (h.tf + 1.2 * (0.25 + 0.75 * h.dl / c.avgdl)) AS wt
      FROM hits h JOIN dfreq d USING (term) CROSS JOIN corpus c
    ),
    s AS (
      SELECT doc_id,
             list_reduce(list(wt ORDER BY term), (a, b) -> a + b) AS bm25,
             count(*) AS rel
      FROM w GROUP BY doc_id
    ),
    pred AS (
      SELECT rel, row_number() OVER (ORDER BY round(bm25, 6) DESC, doc_id)
               AS pos
      FROM s QUALIFY pos <= 20
    ),
    ideal AS (
      SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
      FROM s QUALIFY pos <= 20
    )
    SELECT
      round((SELECT list_reduce(
               list((power(2.0, rel) - 1) / log2(pos + 1.0) ORDER BY pos)
                 || [0.0::DOUBLE], (a, b) -> a + b) FROM pred), 6) AS dcg_20,
      round((SELECT list_reduce(
               list((power(2.0, rel) - 1) / log2(pos + 1.0) ORDER BY pos)
                 || [0.0::DOUBLE], (a, b) -> a + b) FROM ideal), 6) AS idcg_20,
      round((SELECT list_reduce(
               list((power(2.0, rel) - 1) / log2(pos + 1.0) ORDER BY pos)
                 || [0.0::DOUBLE], (a, b) -> a + b) FROM pred)
            / (SELECT list_reduce(
               list((power(2.0, rel) - 1) / log2(pos + 1.0) ORDER BY pos)
                 || [0.0::DOUBLE], (a, b) -> a + b) FROM ideal), 6) AS ndcg_20
    """,
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of the BM25 ranking — the IR-eval closure of the retrieval
    stage: graded relevance = number of distinct query terms a document
    matches (1-3), DCG = Σ (2^rel − 1)/log2(pos+1) over the predicted
    ranking, normalized by the ideal (relevance-sorted) DCG. Both DCG
    sums fold in position order, the predicted ranking reuses the exact
    BM25 ordering (rounded score, doc_id tie-break), and the ideal
    ranking needs only rel>0 docs — all bounded top-k relations."""
    from ..operators.text import bm25_scores

    d = _t(spark, sf_dir, "documents")
    scored = bm25_scores(d, ["spark", "join", "vector"]).select(
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        F.col("n_matched_terms").cast("long").alias("rel"),
    ).cache()
    wp = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    wi = Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("pos") + 1.0)

    def dcg(df, w):
        ranked = (
            df.withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= 20)
            .select("pos", gain.alias("g"))
        )
        return ranked.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pos", "g"))),
                F.lit(0.0),
                lambda acc, s: acc + s["g"],
            ).alias("v")
        )

    pred = dcg(scored, wp).select(F.col("v").alias("dcg"))
    ideal = dcg(scored, wi).select(F.col("v").alias("idcg"))
    return pred.crossJoin(ideal).select(
        F.round("dcg", 6).alias("dcg_20"),
        F.round("idcg", 6).alias("idcg_20"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_20"),
    )


@register(
    "isotonic_calibration_segments",
    oracle="""
    WITH pts AS (
      SELECT s, y, row_number() OVER (ORDER BY s, y) AS r
      FROM (
        SELECT 0.4 * least(len(toks) / 50.0, 1.0)
               + 0.6 * (CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks,
                                    t -> t IN ('the','and','of','to','is','a')))
                                  * 1.0 / len(toks)
                             ELSE 0.0 END) AS s,
               CAST(CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END
                    AS DOUBLE) AS y
        FROM (
          SELECT n_chars,
                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        )
      )
    ),
    ps AS (
      SELECT r, s, y, sum(y) OVER (ORDER BY r) AS cy FROM pts
    ),
    t AS (  -- mean of y over positions [i..k], for every i <= k
      SELECT a.r AS i, b.r AS k,
             (b.cy - a.cy + a.y) / (b.r - a.r + 1) AS m
      FROM ps a JOIN ps b ON a.r <= b.r
    ),
    mm AS ( -- M[i][j] = min over k >= j of mean(i..k)
      SELECT i, k AS j,
             min(m) OVER (PARTITION BY i ORDER BY k DESC) AS rmin
      FROM t
    ),
    fit AS ( -- minimax: fitted[j] = max over i <= j of M[i][j]
      SELECT j AS r, max(rmin) AS f FROM mm GROUP BY j
    ),
    brk AS ( -- block boundary = fitted value changed vs previous row
      SELECT p.r, p.s, f.f,
             CASE WHEN lag(f.f) OVER (ORDER BY p.r)
                       IS DISTINCT FROM f.f THEN 1 ELSE 0 END AS b
      FROM pts p JOIN fit f ON p.r = f.r
    ),
    isl AS ( -- PAV blocks = islands of equal fitted value
      SELECT r, s, f, sum(b) OVER (ORDER BY r) AS g FROM brk
    )
    SELECT round(min(s), 6) AS score_lo,
           round(max(s), 6) AS score_hi,
           round(min(f), 6) AS calibrated_p,
           count(*) AS n
    FROM isl GROUP BY g
    """,
)
def isotonic_calibration_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality-composite score against
    the long-document label — the step-function calibrator fitted on a
    single task (calibration holdouts are bounded by design; the corpus
    scoring stays distributed).

    FULL value oracle via the isotonic-regression minimax identity:
    fitted[j] = max_{i≤j} min_{k≥j} mean(y_i..y_k) over the
    (score, label)-sorted sample — an O(n²) prefix-sum formulation DuckDB
    evaluates exactly (labels are 0/1, so every block mean is an exact
    integer ratio computed identically by both engines), with PAV blocks
    recovered as islands of equal fitted value. The sequential engine-side
    PAV and the closed-form oracle must agree segment-for-segment.
    Monotonicity/partition invariants additionally oracle-checked by
    isotonic_calibration_contract; numpy-reference agreement in pytest."""
    from ..operators.inference import isotonic_calibration
    from ..operators.text import tokens as _tokens

    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tok = F.size(toks)
    sw = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is", "a"))
    )
    conf = 0.4 * F.least(n_tok / 50.0, F.lit(1.0)) + 0.6 * F.when(
        n_tok > 0, sw * 1.0 / n_tok
    ).otherwise(F.lit(0.0))
    scored = d.select(
        conf.alias("score"),
        F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("label"),
    )
    seg = isotonic_calibration(scored, "score", "label")
    return seg.select(
        F.round("score_lo", 6).alias("score_lo"),
        F.round("score_hi", 6).alias("score_hi"),
        F.round("calibrated_p", 6).alias("calibrated_p"),
        "n",
    )


@register(
    "isotonic_calibration_contract",
    oracle="""
    SELECT true AS probs_in_unit_interval,
           true AS probs_strictly_increasing,
           true AS segments_partition_sample,
           true AS segment_bounds_ordered
    """,
)
def isotonic_calibration_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oracle-checked PAV invariants: calibrated probabilities live in
    [0,1] and are STRICTLY increasing across segments (adjacent equal
    means would have pooled — that is the definition of the PAV fixed
    point), segment counts sum to the sample size, and every segment's
    score bounds are ordered."""
    from pyspark.sql.window import Window as W

    from .llm_ops import isotonic_calibration_segments

    seg = isotonic_calibration_segments(spark, sf_dir).cache()
    w = W.orderBy("score_lo")
    lagged = seg.select(
        "calibrated_p",
        "score_lo",
        "score_hi",
        "n",
        F.lag("calibrated_p").over(w).alias("_prev_p"),
    )
    d = _t(spark, sf_dir, "documents")
    return (
        lagged.agg(
            (
                (F.min("calibrated_p") >= 0.0)
                & (F.max("calibrated_p") <= 1.0)
            ).alias("probs_in_unit_interval"),
            (
                F.sum(
                    (
                        F.col("_prev_p").isNotNull()
                        & (F.col("calibrated_p") <= F.col("_prev_p"))
                    ).cast("long")
                )
                == 0
            ).alias("probs_strictly_increasing"),
            F.sum("n").alias("_n_seg"),
            (
                F.sum(
                    (F.col("score_lo") > F.col("score_hi")).cast("long")
                )
                == 0
            ).alias("segment_bounds_ordered"),
        )
        .crossJoin(d.agg(F.count(F.lit(1)).alias("_n_docs")))
        .select(
            "probs_in_unit_interval",
            "probs_strictly_increasing",
            (F.col("_n_seg") == F.col("_n_docs")).alias(
                "segments_partition_sample"
            ),
            "segment_bounds_ordered",
        )
    )


@register(
    "doc_zipf_exponent",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    v AS (
      SELECT unnest(toks) AS tok FROM t
    ),
    f AS (
      SELECT tok, count(*) AS n FROM v GROUP BY tok
    ),
    topk AS (
      SELECT n,
             row_number() OVER (ORDER BY n DESC, tok) AS rnk
      FROM f
      ORDER BY n DESC, tok LIMIT 500
    ),
    pts AS (
      SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
      FROM topk
    ),
    s AS (
      SELECT count(*) AS k,
             round(sum(x), 6) AS sx, round(sum(y), 6) AS sy,
             round(sum(x*x), 6) AS sxx, round(sum(x*y), 6) AS sxy
      FROM pts
    )
    SELECT k AS n_ranks,
           round((k*sxy - sx*sy) / (k*sxx - sx*sx), 4) + 0.0
             AS zipf_slope,
           round((sy - ((k*sxy - sx*sy) / (k*sxx - sx*sx)) * sx) / k, 4)
             + 0.0 AS intercept,
           round((k*sxy - sx*sy) / (k*sxx - sx*sx), 4) BETWEEN -2.0 AND -0.3
             AS zipf_like
    FROM s
    """,
)
def doc_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus token distribution — the
    one-number lexical-health diagnostic (natural language sits near
    slope −1 in log(freq) vs log(rank); synthetic/boilerplate/templated
    corpora flatten or steepen it, so pretraining pipelines track this
    per source/shard). The frequency relation reduces to its top-500
    ranks (a TakeOrdered, bounded for any corpus), then the OLS slope in
    log-log space comes from 4 closed-form sums over those 500 points.
    Sums are rounded identically on both engines before the solve;
    ranking ties break on the token for cross-engine determinism.
    On the synthetic testdata corpus (template-generated, ~31-token
    vocabulary, near-uniform frequencies) the slope sits far above the
    natural band and ``zipf_like`` is FALSE — the diagnostic doing its
    job, pinned in tests/test_linkage_stats.py."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    f = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = (
        f.orderBy(F.col("n").desc(), F.col("tok"))
        .limit(500)
        .select(
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("tok")))
            .alias("rnk"),
        )
    )
    pts = topk.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.round(F.sum("x"), 6).alias("sx"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"),
    )
    slope = (
        F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(
        F.col("k").alias("n_ranks"),
        (F.round(slope, 4) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 4)
            + F.lit(0.0)
        ).alias("intercept"),
        F.round(slope, 4).between(-2.0, -0.3).alias("zipf_like"),
    )


@register(
    "weighted_negative_samples",
    oracle="""
    WITH pop AS (
      SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
    ), w AS (
      SELECT l_partkey,
             CAST(round(pow(n, 0.75) * 1000) AS BIGINT) AS wt
      FROM pop
    ), cum AS (
      SELECT l_partkey, wt,
             sum(wt) OVER (ORDER BY l_partkey
                           ROWS UNBOUNDED PRECEDING) AS cum_hi
      FROM w
    ), tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM w),
    iv AS (
      SELECT l_partkey,
             CAST(cum_hi - wt AS DOUBLE) / CAST(total AS DOUBLE) AS lo_f,
             CAST(cum_hi AS DOUBLE) / CAST(total AS DOUBLE)      AS hi_f
      FROM cum CROSS JOIN tot
    ), draws AS (
      SELECT event_id, j,
             CAST(CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                   || '-' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 16777216 AS DOUBLE) / 16777216.0 AS u
      FROM events CROSS JOIN (SELECT unnest([1, 2]) AS j)
      WHERE event_type = 'purchase'
    )
    SELECT d.event_id, d.j AS draw_idx, iv.l_partkey AS neg_partkey
    FROM draws d JOIN iv ON d.u >= iv.lo_f AND d.u < iv.hi_f
    """,
)
def weighted_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-smoothed negative sampling for contrastive training —
    the word2vec/recommender shape: each positive (purchase) event draws
    k=2 negatives from the item-popularity distribution raised to 0.75
    (the smoothing that keeps rare items sampled without letting head
    items dominate). Sampling is INVERSE-CDF AS A JOIN: the popularity
    CDF becomes an interval relation [lo, hi) in normalized [0,1) space
    (integer cumulative weights — deterministic window prefix sum, no
    float accumulation), each draw hashes to a reproducible uniform, and
    the lookup rides the bucketized interval-containment join — a plain
    shuffled equi-join on 1/1024-wide buckets, never a nested-loop range
    join and never a single-partition sort. The draw hash is content-
    derived, so the sampled negatives are identical on any engine or
    partitioning — the reproducibility a training pipeline needs for
    resumable dataset builds. (The CDF window orders the dimension
    table; for a >10⁷-item catalog swap in operators/rank.py
    global_rank's two-pass prefix offsets.)"""
    from ..operators.temporal import interval_containment_join

    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    w = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "l_partkey",
            F.round(F.pow(F.col("n"), 0.75) * 1000, 0)
            .cast("long")
            .alias("wt"),
        )
    )
    cum = w.select(
        "l_partkey",
        "wt",
        F.sum("wt")
        .over(
            Window.orderBy("l_partkey").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cum_hi"),
    )
    tot = w.agg(F.sum("wt").alias("total"))
    iv = cum.crossJoin(F.broadcast(tot)).select(
        F.lit(1).alias("_g"),
        "l_partkey",
        (
            (F.col("cum_hi") - F.col("wt")).cast("double")
            / F.col("total").cast("double")
        ).alias("lo_f"),
        (
            F.col("cum_hi").cast("double") / F.col("total").cast("double")
        ).alias("hi_f"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit("-"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    draws = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.explode(F.array(F.lit(1), F.lit(2))).alias("j"))
        .select(
            F.lit(1).alias("_g"),
            "event_id",
            "j",
            ((h % 16777216).cast("double") / F.lit(16777216.0)).alias("u"),
        )
    )
    joined = interval_containment_join(
        draws,
        iv,
        key_cols=["_g"],
        point_col="u",
        lo_col="lo_f",
        hi_col="hi_f",
        bucket_width=1.0 / 1024,
    )
    return joined.select(
        "event_id",
        F.col("j").alias("draw_idx"),
        F.col("l_partkey").alias("neg_partkey"),
    )


@register(
    "doc_bigram_perplexity",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      FROM t, unnest(range(1, len(toks))) AS r(i)
      WHERE len(toks) >= 2
    ), bc AS (
      SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
    ), uc AS (
      SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
    ), vsize AS (
      SELECT count(DISTINCT w2) AS v FROM bg
    ), scored AS (
      SELECT g.doc_id,
             ln((bc.n12 + 1.0) / (uc.n1 + vsize.v)) AS lp
      FROM bg g
      JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      JOIN uc ON uc.w1 = g.w1
      CROSS JOIN vsize
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(lp), 6) AS avg_logprob,
           round(exp(-avg(lp)), 4) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model perplexity per document with Laplace
    (add-one) smoothing — one modeling step up from the unigram filter
    (`doc_unigram_logprob`) toward the KenLM-style perplexity gates
    CCNet-class pipelines use: P(w2|w1) = (c(w1,w2)+1)/(c(w1)+|V|), so
    unseen continuations cost finite, vocabulary-scaled mass instead of
    −∞. The corpus LM is two hash aggregations over the exploded bigram
    relation (joint + marginal counts) re-joined to the same relation —
    the train-on-self diagnostic; scoring a corpus against a REFERENCE
    LM is the same plan with the count tables read from the reference
    corpus instead. Bigram explosion via sliding array indices, no UDF;
    the Zipf-head join skew is the same shape AQE already splits for the
    unigram twin."""
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS w1, toks[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    vsize = bg.agg(F.countDistinct("w2").alias("v"))
    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            F.log(
                (F.col("n12") + F.lit(1.0)) / (F.col("n1") + F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
    )


@register(
    "doc_dsir_selection",
    oracle="""
    WITH t AS MATERIALIZED (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    b AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(unnest(toks)), 1, 15)) AS BIGINT)
               % 256 AS bucket
      FROM t
    ),
    tgt AS (SELECT bucket, count(*) AS c FROM b WHERE lang = 'en'
            GROUP BY bucket),
    raw AS (SELECT bucket, count(*) AS c FROM b GROUP BY bucket),
    nt AS (SELECT sum(c) AS n FROM tgt),
    nr AS (SELECT sum(c) AS n FROM raw),
    ratio AS MATERIALIZED (
      SELECT r.bucket,
             ln((coalesce(t.c, 0) + 1.0) / (nt.n + 256))
               - ln((r.c + 1.0) / (nr.n + 256)) AS lr
      FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket
      CROSS JOIN nt CROSS JOIN nr
    ),
    sc AS (
      SELECT b.doc_id, any_value(b.lang) AS lang,
             cast(count(*) AS BIGINT) AS n_tokens,
             round(avg(ratio.lr), 6)  AS avg_log_ratio
      FROM b JOIN ratio ON b.bucket = ratio.bucket
      GROUP BY b.doc_id
    )
    SELECT doc_id, lang, n_tokens, avg_log_ratio,
           (row_number() OVER (ORDER BY avg_log_ratio DESC, doc_id) <= 100)
             AS selected
    FROM sc
    """,
)
def doc_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    its average hashed-unigram log importance ratio between a TARGET
    corpus (here the lang='en' slice standing in for "looks like
    high-quality English") and the raw pool, then flag the top-100 as
    selected. This is the published scale path for "pick pretraining
    data that looks like the domain you care about": both LMs are just
    256-bucket hashed-ngram count vectors — two bounded aggregations —
    and scoring is a broadcast join of the 256-row log-ratio table onto
    the exploded token stream, partial-averaged per doc. No model, no
    Python row path, no global pass over text besides the token scan
    the other doc_* queries already do.

    Determinism: buckets are md5-derived (bit-identical cross-engine),
    Laplace(+1) smoothing keeps every ratio finite, the per-doc mean is
    rounded to 6 before ranking, and the selection cut ranks
    (avg_log_ratio DESC, doc_id) so the boundary is unambiguous. The
    final rank is a single window over DOC-level rows (bounded, one per
    document) — the token-level heavy lifting never sorts globally.
    """
    from ..operators.similarity import _spread
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    # spread the tokenize+md5 front end (single-file corpus, guide §2.5)
    tok = _spread(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long") % 256,
    )
    # one (lang, bucket) histogram — ≤ #langs × 256 rows — feeds both
    # LM count vectors, replacing two independent corpus tokenizations
    # (the raw and en-filtered subtrees differ, so ReusedExchange cannot
    # dedup them; the histogram counts are integer-identical, guide §5.2)
    lb = tok.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("c"))
    raw = lb.groupBy("bucket").agg(F.sum("c").alias("rc"))
    tgt = (
        lb.where(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("c").alias("tc"))
    )
    nt = tgt.agg(F.sum("tc").alias("nt"))
    nr = raw.agg(F.sum("rc").alias("nr"))
    ratio = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("nt") + 256))
                - F.log((F.col("rc") + 1.0) / (F.col("nr") + 256))
            ).alias("lr"),
        )
    )
    sc = (
        tok.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lr"), 6).alias("avg_log_ratio"),
        )
    )
    w = Window.orderBy(F.col("avg_log_ratio").desc(), F.col("doc_id"))
    return sc.select(
        "doc_id", "lang", "n_tokens", "avg_log_ratio",
        (F.row_number().over(w) <= 100).alias("selected"),
    )


_QL_TERMS = ("spark", "join", "vector")
_QL_MU = 300.0

_QL_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, len(toks) AS dl, toks FROM t),
corpus AS (
  SELECT sum(dl)::DOUBLE AS c_len FROM base
),
allhits AS (
  SELECT doc_id, dl, tok AS term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM base)
  GROUP BY doc_id, dl, tok
),
cfreq AS (
  SELECT term, sum(tf)::DOUBLE AS ctf FROM allhits
  WHERE term IN ('spark', 'join', 'vector') GROUP BY term
),
hits AS (
  SELECT h.doc_id, h.term, h.tf, c.ctf
  FROM allhits h JOIN cfreq c USING (term)
  WHERE h.term IN ('spark', 'join', 'vector')
),
present AS (
  SELECT h.doc_id,
         list_reduce(
           list(ln(h.tf + {_QL_MU} * h.ctf / co.c_len)
                - ln({_QL_MU} * h.ctf / co.c_len) ORDER BY h.term),
           (a, b) -> a + b) AS bonus,
         count(*) AS n_matched_terms
  FROM hits h CROSS JOIN corpus co
  GROUP BY h.doc_id
),
scored AS (
  SELECT b.doc_id,
         coalesce(p.bonus, 0.0)
         + (SELECT list_reduce(
              list(ln({_QL_MU} * ctf / co.c_len) ORDER BY term),
              (a, b) -> a + b)
            FROM cfreq CROSS JOIN corpus co)
         - 3 * ln(b.dl + {_QL_MU}) AS ql,
         coalesce(p.n_matched_terms, 0) AS n_matched_terms
  FROM base b LEFT JOIN present p ON p.doc_id = b.doc_id
)
SELECT doc_id, round(ql, 6) AS ql_score,
       CAST(n_matched_terms AS BIGINT) AS n_matched_terms
FROM scored
ORDER BY round(ql, 6) DESC, doc_id LIMIT 20
"""


@register("doc_query_likelihood_search", oracle=_QL_ORACLE)
def doc_query_likelihood_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (μ=300) — the
    language-modeling scorer that completes the lexical-retrieval trio
    with `doc_bm25_search` and `retrieval_rrf_fusion`:
    score(d) = Σ_t ln((tf + μ·P(t|C)) / (dl + μ)). Unlike BM25 every
    document scores (absent terms contribute the smoothed background),
    but the doc-varying part decomposes into a PRESENT-TERM bonus
    (term-filtered explode, the BM25 relational skeleton) plus a
    per-doc −|Q|·ln(dl+μ) length penalty and a query-constant background
    sum — so the shuffled relation is |docs ∩ terms| rows, never the
    token stream, and the corpus-wide scalars ride 1-row cross joins.
    Present-term and background folds run in sorted term order
    (bit-identical both engines); ln is libm but lands on identical
    inputs, rounded at 6dp before ranking."""
    from ..operators.text import tokens as _tok

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.size(_tok(F.col("text"))).alias("dl"),
        _tok(F.col("text")).alias("toks"),
    )
    corpus = base.agg(F.sum("dl").cast("double").alias("c_len"))
    exploded = base.select(
        "doc_id", F.explode("toks").alias("term")
    ).filter(F.col("term").isin(*_QL_TERMS))
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cfreq = tf.groupBy("term").agg(
        F.sum("tf").cast("double").alias("ctf")
    )
    hits = tf.join(F.broadcast(cfreq), "term").crossJoin(
        F.broadcast(corpus)
    )
    mu = F.lit(_QL_MU)
    term_bonus = F.log(
        F.col("tf") + mu * F.col("ctf") / F.col("c_len")
    ) - F.log(mu * F.col("ctf") / F.col("c_len"))
    present = (
        hits.select(
            "doc_id", F.struct("term", term_bonus.alias("b")).alias("_s")
        )
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("_s")),
                F.lit(0.0),
                lambda acc, x: acc + x["b"],
            ).alias("bonus"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
    )
    background = (
        cfreq.crossJoin(F.broadcast(corpus))
        .select(
            F.struct(
                "term",
                F.log(mu * F.col("ctf") / F.col("c_len")).alias("b"),
            ).alias("_s")
        )
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("_s")),
                F.lit(0.0),
                lambda acc, x: acc + x["b"],
            ).alias("bg")
        )
    )
    scored = (
        base.select("doc_id", "dl")
        .join(present, "doc_id", "left")
        .crossJoin(F.broadcast(background))
        .select(
            "doc_id",
            (
                F.coalesce(F.col("bonus"), F.lit(0.0))
                + F.col("bg")
                - 3 * F.log(F.col("dl") + mu)
            ).alias("ql"),
            F.coalesce(F.col("n_matched_terms"), F.lit(0)).alias(
                "n_matched_terms"
            ),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.round("ql", 6).alias("ql_score"),
            F.col("n_matched_terms").cast("long").alias(
                "n_matched_terms"
            ),
        )
        .orderBy(F.col("ql_score").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@register(
    "heaps_law_vocab_growth",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    firsts AS (
      SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY token
    ),
    bounds AS (
      SELECT max(doc_id) AS max_id, count(DISTINCT doc_id) AS n_docs
      FROM tok
    ),
    cuts AS (SELECT unnest(range(1, 11)) AS decile),
    pts AS (
      SELECT c.decile,
             CAST(floor(b.max_id * c.decile / 10.0) AS BIGINT) AS cutoff,
             (SELECT count(*) FROM firsts f
              WHERE f.first_doc <= floor(b.max_id * c.decile / 10.0))
               AS vocab,
             (SELECT count(*) FROM tok t
              WHERE t.doc_id <= floor(b.max_id * c.decile / 10.0))
               AS n_tokens
      FROM cuts c CROSS JOIN bounds b
    ),
    fit AS (
      SELECT count(*) AS k,
             sum(ln(n_tokens)) AS sx, sum(ln(vocab)) AS sy,
             sum(ln(n_tokens) * ln(n_tokens)) AS sxx,
             sum(ln(n_tokens) * ln(vocab)) AS sxy
      FROM pts WHERE n_tokens > 0 AND vocab > 0
    )
    SELECT CAST(p.decile AS INT) AS decile,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.vocab AS BIGINT) AS vocab,
           round((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS heaps_beta
    FROM pts p CROSS JOIN fit f
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law vocabulary-growth curve V(n) ≈ K·n^β for the corpus:
    cumulative distinct vocabulary at 10 nested doc-id prefixes, plus
    the log-log OLS slope β (typically 0.4–0.6 for natural text; β near
    1 means near-random tokens, near 0 means a closed vocabulary) — the
    curve that sizes tokenizer vocabularies and predicts how much NEW
    vocabulary the next 10× of crawl will add. The naive construction
    re-deduplicates per prefix (10 passes); this plan computes each
    token's FIRST-occurrence doc once (one groupBy), after which every
    prefix's vocabulary is a bounded count over the firsts relation —
    the incremental-dedup trick that makes nested-prefix curves one-pass
    at any corpus size."""
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    firsts = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    bounds = tok.agg(F.max("doc_id").alias("max_id"))
    cuts = spark.range(1, 11).select(F.col("id").alias("decile"))
    grid = cuts.crossJoin(F.broadcast(bounds)).select(
        "decile",
        F.floor(F.col("max_id") * F.col("decile") / 10.0)
        .cast("long")
        .alias("cutoff"),
    )
    vocab = (
        firsts.crossJoin(F.broadcast(grid))
        .filter(F.col("first_doc") <= F.col("cutoff"))
        .groupBy("decile", "cutoff")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    ntok = (
        tok.crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    # Left-join onto the full 10-row grid (coalesce 0) so a decile whose
    # cutoff precedes every doc still appears, matching the oracle's
    # correlated-subquery semantics (which emits vocab=0/n_tokens=0 for
    # degenerate corpora with large doc_id gaps at the low end).
    pts = (
        grid.join(vocab.drop("cutoff"), "decile", "left")
        .join(ntok, "decile", "left")
        .select(
            "decile",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("vocab", F.lit(0)).alias("vocab"),
        )
    )
    lx = F.log("n_tokens")
    ly = F.log("vocab")
    # Zero-count deciles (degenerate corpora with doc_id gaps) are kept
    # in the output grid but excluded from the log-log fit on BOTH sides:
    # Spark's log(0) is NULL (silently skipped) while DuckDB's ln(0)
    # raises, so the fit must agree on the same positive-row set.
    fit = pts.filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0)).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(lx * ly).alias("sxy"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(beta, 6).alias("heaps_beta"),
    )


@register(
    "source_shingle_similarity",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    src AS (
      SELECT d.source, e.shingle
      FROM e JOIN documents d USING (doc_id)
      GROUP BY d.source, e.shingle
    ),
    hashed AS (
      SELECT source,
             CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
      FROM src
    ),
    ranked AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rk
      FROM hashed
    ),
    sk AS (SELECT source, h FROM ranked WHERE rk <= 128),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM src) a
      JOIN (SELECT DISTINCT source FROM src) b ON a.source < b.source
    ),
    est AS (
      SELECT p.source_a, p.source_b,
             (SELECT count(*) FROM (
                SELECT h FROM (
                  SELECT u.h, row_number() OVER (ORDER BY u.h) AS rk
                  FROM (SELECT DISTINCT h FROM sk
                        WHERE source IN (p.source_a, p.source_b)) u
                ) WHERE rk <= 128
              ) mu
              JOIN sk x ON x.source = p.source_a AND x.h = mu.h
              JOIN sk y ON y.source = p.source_b AND y.h = mu.h)
               * 1.0 / 128 AS j_est
      FROM pairs p
    ),
    exact AS (
      SELECT p.source_a, p.source_b,
             (SELECT count(*) FROM
                (SELECT shingle FROM src WHERE source = p.source_a
                 INTERSECT
                 SELECT shingle FROM src WHERE source = p.source_b))
               * 1.0 /
             (SELECT count(*) FROM
                (SELECT shingle FROM src WHERE source = p.source_a
                 UNION
                 SELECT shingle FROM src WHERE source = p.source_b))
               AS j_exact
      FROM pairs p
    )
    SELECT e.source_a, e.source_b,
           round(x.j_exact, 6) AS jaccard_exact,
           round(e.j_est, 6) AS jaccard_est,
           abs(e.j_est - x.j_exact) <= 0.15 AS within_band
    FROM est e JOIN exact x
      ON x.source_a = e.source_a AND x.source_b = e.source_b
    """,
)
def source_shingle_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-level source-to-source similarity via bottom-k (KMV)
    sketches of each source's 3-shingle set: the standard MinHash
    estimator Ĵ = |sk(A) ∩ sk(B) ∩ sk(A∪B)|/k, exact-checked against
    the true Jaccard of the distinct-shingle sets — the curation
    question 'which sources mirror each other?' answered from 128-row
    sketches instead of a shingle-level join. Deterministic md5 order
    makes the estimate value-checkable, and the ±0.15 band (k=128 ⇒
    σ≈0.09 at J≈0.5) rides along per pair. Scale: per-source sketches
    are ≤k rows no matter the corpus; only the distinct (source,
    shingle) projection scans data, and pairwise estimation is
    source-count quadratic over 128-row inputs — the sketch-algebra
    shape that prices a 1000-source matrix at pennies."""
    from ..operators.similarity import _spread
    from ..operators.text import word_shingles

    d = _t(spark, sf_dir, "documents")
    # spread the tokenize+shingle explode so a single-file corpus does
    # not serialize it on one core (guide §2.5). No persist on top: the
    # distinct's Exchange is identical across all four consumers, so
    # ReusedExchange already materializes the relation once — measured
    # A/B showed a persist only adds serialization cost here
    src = (
        _spread(d.select("source", "text"))
        .select(
            "source",
            F.explode(word_shingles(F.col("text"))).alias("shingle"),
        )
        .distinct()
    )
    hashed = src.select(
        "source",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.select(
            "source", "h", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 128)
        .drop("rk")
    )
    # sketches are tiny (#sources × 128): collect-free pairwise algebra
    # via self-joins on the bounded sketch relation
    sources = src.select("source").distinct()
    pairs = (
        sources.alias("a")
        .join(
            sources.alias("b"),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
    )
    both = pairs.join(
        sk.select(F.col("source").alias("source_a"), "h"), "source_a"
    ).select("source_a", "source_b", "h").unionByName(
        pairs.join(
            sk.select(F.col("source").alias("source_b"), "h"),
            "source_b",
        ).select("source_a", "source_b", "h")
    )
    wu = Window.partitionBy("source_a", "source_b").orderBy("h")
    union_k = (
        both.distinct()
        .select(
            "source_a",
            "source_b",
            "h",
            F.row_number().over(wu).alias("rk"),
        )
        .filter(F.col("rk") <= 128)
        .drop("rk")
    )
    in_a = sk.select(
        F.col("source").alias("source_a"), F.col("h").alias("ha")
    )
    in_b = sk.select(
        F.col("source").alias("source_b"), F.col("h").alias("hb")
    )
    est = (
        union_k.join(
            in_a,
            (union_k.source_a == in_a.source_a)
            & (union_k.h == in_a.ha),
        )
        .drop(in_a.source_a)
        .join(
            in_b,
            (union_k.source_b == in_b.source_b)
            & (union_k.h == in_b.hb),
        )
        .drop(in_b.source_b)
        .groupBy("source_a", "source_b")
        .agg((F.count(F.lit(1)) * 1.0 / 128).alias("j_est"))
    )
    sa = src.select(F.col("source").alias("source_a"),
                    F.col("shingle").alias("sha"))
    sb = src.select(F.col("source").alias("source_b"),
                    F.col("shingle").alias("shb"))
    inter = (
        sa.join(
            sb,
            (F.col("sha") == F.col("shb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = src.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    exact = (
        inter.join(
            sizes.select(F.col("source").alias("source_a"),
                         F.col("sz").alias("sz_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"),
                         F.col("sz").alias("sz_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            (
                F.col("n_inter")
                * 1.0
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("j_exact"),
        )
    )
    # zero-overlap pairs vanish from the joins above — restore them
    # from the full pair list with J = 0 on both paths
    full = (
        pairs.join(est, ["source_a", "source_b"], "left")
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("j_est"), F.lit(0.0)).alias("j_est"),
            F.coalesce(F.col("j_exact"), F.lit(0.0)).alias("j_exact"),
        )
    )
    return full.select(
        "source_a",
        "source_b",
        F.round("j_exact", 6).alias("jaccard_exact"),
        F.round("j_est", 6).alias("jaccard_est"),
        (F.abs(F.col("j_est") - F.col("j_exact")) <= 0.15).alias(
            "within_band"
        ),
    )


@register(
    "burrows_delta_sources",
    oracle=f"""
    WITH tok AS (
      SELECT d.source, unnest({_TOKS}) AS token FROM documents d
    ),
    top_toks AS (
      SELECT token FROM (
        SELECT token, count(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token LIMIT 20)
    ),
    src_tot AS (
      SELECT source, count(*) AS n_tok FROM tok GROUP BY source
    ),
    freq AS (
      SELECT st.source, tt.token,
             coalesce(c.cnt, 0) * 1.0 / st.n_tok AS f
      FROM src_tot st CROSS JOIN top_toks tt
      LEFT JOIN (
        SELECT source, token, count(*) AS cnt
        FROM tok JOIN top_toks USING (token)
        GROUP BY source, token
      ) c ON c.source = st.source AND c.token = tt.token
    ),
    stats AS (
      SELECT token, count(*) AS k, sum(f) AS sf, sum(f * f) AS sff
      FROM freq GROUP BY token
    ),
    z AS (
      SELECT fr.source, fr.token,
             (fr.f - s.sf / s.k)
               / sqrt((s.sff - s.sf * s.sf / s.k) / (s.k - 1)) AS z
      FROM freq fr JOIN stats s USING (token)
      WHERE (s.sff - s.sf * s.sf / s.k) / (s.k - 1) > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_marker_tokens,
           round(sum(abs(a.z - b.z)) / count(*), 4) AS burrows_delta
    FROM z a JOIN z b
      ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources — the classic stylometric
    distance: z-score each source's relative frequency of the 20 most
    common corpus tokens (marker words) against the cross-source
    distribution, then Delta(a,b) = mean |z_a − z_b| — the
    author/register fingerprint that separates 'same pipeline,
    different topic' from 'different provenance entirely', which is
    exactly the question source-level curation asks before merging
    crawls. Everything reduces to bounded relations: one token scan,
    then (sources × 20) frequency cells, 20 per-token moment rows, and
    a pairwise join over the z relation (sources² × 20, constant for
    bounded source counts). Zero-variance markers are excluded on both
    engines."""
    from ..operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    top_toks = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(20)
        .select("token")
    )
    src_tot = tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tok")
    )
    cnt = (
        tok.join(F.broadcast(top_toks), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    freq = (
        src_tot.crossJoin(F.broadcast(top_toks))
        .join(cnt, ["source", "token"], "left")
        .select(
            "source",
            "token",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                * 1.0
                / F.col("n_tok")
            ).alias("f"),
        )
    )
    stats = freq.groupBy("token").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("f").alias("sf"),
        F.sum(F.col("f") * F.col("f")).alias("sff"),
    )
    var = (
        F.col("sff") - F.col("sf") * F.col("sf") / F.col("k")
    ) / (F.col("k") - 1)
    z = (
        freq.join(F.broadcast(stats), "token")
        .filter(var > 0)
        .select(
            "source",
            "token",
            (
                (F.col("f") - F.col("sf") / F.col("k")) / F.sqrt(var)
            ).alias("z"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"),
        "token",
        F.col("z").alias("za"),
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("token").alias("tb"),
        F.col("z").alias("zb"),
    )
    pairs = a.join(
        b,
        (F.col("token") == F.col("tb"))
        & (F.col("source_a") < F.col("source_b")),
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_marker_tokens"),
        F.round(
            F.sum(F.abs(F.col("za") - F.col("zb"))) / F.count(F.lit(1)),
            4,
        ).alias("burrows_delta"),
    )
