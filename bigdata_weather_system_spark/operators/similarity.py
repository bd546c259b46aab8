"""Similarity search over embedding columns (array<float>).

Two paths:

- **brute-force cosine top-k** — exact baseline. dot/norm are built-in array
  folds (``F.aggregate`` / ``F.zip_with``), ranking is a window-group-limit.
  Cost = |queries| × |corpus|; right answer for small query sets or as the
  verify step.
- **random-hyperplane LSH top-k** — the scale path. Sign-bit sketches bucket
  the corpus; each query only scores its own bucket (plus optional
  multi-probe neighbors). Hyperplanes are derived deterministically from a
  seed so results are reproducible run-to-run.

All vector math happens in doubles, left-to-right folds — deterministic and
reproducible in the DuckDB oracle. No Python in the row path; a Pandas-UDF
variant (numpy dot over Arrow batches) is provided for wide vectors where
per-element codegen loses to BLAS.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from .latest import top_n_per_key


def _spread(df: DataFrame) -> DataFrame:
    """Repartition to session parallelism before CPU-heavy stages (per-pair
    scoring, tokenize / explode / hash fan-outs) that run BEFORE the
    plan's first exchange.

    Small corpora arrive as one parquet file → one partition → the narrow
    front end of the plan runs on a single core; the pre-shuffle moves
    only the raw rows. A table whose scan already yields >= session
    parallelism partitions (any real large table) is returned untouched —
    an unconditional repartition would re-shuffle the corpus for nothing,
    so the spread is scale-adaptive, not a local[32] tune. The one helper
    for ``operators/dedup.py``, ``operators/multimodal.py``, the other
    operators and the contract queries.

    The probe uses the scan's file listing (``inputFiles`` — plan
    metadata, no job, no DataFrame→RDD conversion, which the previous
    ``df.rdd.getNumPartitions()`` probe forced on every call). In-memory
    frames (no files) are already spread across default parallelism by
    ``createDataFrame`` and pass through untouched.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= par:
        return df
    return df.repartition(par)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in doubles (order-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Cross join (query side broadcast — query sets are small by construction)
    → cosine per pair → row_number ≤ k per query. Ties broken by neighbor id
    for determinism. Cosine is rounded before ranking so results are stable
    across engines/accumulation orders.
    """
    # Norms are precomputed once per row on each side — the per-pair work is
    # a single dot fold instead of three (dot + 2 norms). The quotient is
    # bit-identical to cosine(): sqrt(dot(v,v)) yields the same double
    # whether evaluated per-row or per-pair.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    return top_n_per_key(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def adaptive_n_planes(
    n_rows: int,
    target_bucket_size: int = 32,
    min_planes: int = 4,
    max_planes: int = 24,
) -> int:
    """Plane count that holds the EXPECTED LSH bucket size ~constant as
    the corpus grows: ``ceil(log2(n / target))``, clamped.

    This is the knob that keeps sign-bit LSH linear at scale. With fixed
    planes, bucket occupancy — and so per-query candidate work — grows
    with n (10× data → 10× candidates → 100× pair work for all-queries
    shapes). With log-scaled planes the per-query candidate count stays
    ~``(1 + probes) · target``, so total pair work grows ~linearly while
    the sketch cost grows only O(n · log n). The price is recall: on
    weakly-clustered vectors the probed fraction of the corpus shrinks as
    n grows — tune ``multi_probe``/``target_bucket_size`` up when recall
    matters more than cost (the accuracy contracts pin floors at oracle
    scale).
    """
    import math

    raw = math.ceil(math.log2(max(2.0, n_rows / float(target_bucket_size))))
    return max(min_planes, min(max_planes, int(raw)))


def lsh_sketch(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit sketch: bit_i = 1 iff dot(vec, plane_i) > 0 → packed long.

    Arrow-batched numpy GEMM — one ``(batch, dim) @ (dim, n_planes)`` BLAS
    call per batch, sign bits packed with a shift-and-sum — replacing
    n_planes interpreted zip_with folds per row (and the n_planes × dim
    literal expression tree). The plane matrix travels in the UDF closure;
    it is seed-derived and tiny.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    pmat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(pmat.shape[1], dtype=np.int64))

    @pandas_udf(LongType())
    def sketch(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy()).astype(np.float64)
        bits = (mat @ pmat) > 0  # (b, n_planes) bool
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return sketch(vec)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 6,
    multi_probe: int = 1,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket(s)
    are scored. With b sign bits the candidate set shrinks ~2^-b; recall is
    tuned via n_planes (fewer → bigger buckets) and ``multi_probe``
    (also probe buckets within that Hamming distance of the query's sketch
    — each extra bit of probing multiplies candidates by ~n_planes but
    sharply lifts recall on weakly-clustered vectors).

    At 100 TB: the corpus side is sketched once (narrow stage, cacheable as
    a bucketed table on ``bucket``), and each query joins only its probe
    buckets — an equi-join on an 8-byte key instead of a cross join.

    ``broadcast_queries`` picks the join strategy for that equi-join:
    True (default) broadcasts the exploded query·probe rows — right when
    the query batch is small relative to the corpus (the serving shape).
    Pass False for the self-kNN / all-queries shape, where the "query
    batch" IS the corpus: each exploded row carries the full embedding,
    so broadcasting it ships n·(1+probes)·dim floats to every executor —
    a shuffle equi-join on the 8-byte bucket key moves each row once
    instead. In that shape the query side is also ``_spread`` first:
    the explode → join → score → partial-window chain all pipeline on
    the query side's partitioning, so a single-file query scan would
    otherwise run the whole candidate stage on one core.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
        lsh_sketch(F.col(vec_col), planes).alias("bucket"),
    )
    base = lsh_sketch(F.col(vec_col), planes)
    probe_exprs = [base]
    if multi_probe >= 1:
        probe_exprs += [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if multi_probe >= 2:
        probe_exprs += [
            base.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    q = (queries if broadcast_queries else _spread(queries)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qn"),
        F.explode(F.array(*probe_exprs)).alias("bucket"),
    )
    pairs = c.join(
        F.broadcast(q) if broadcast_queries else q, on="bucket"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # Score BEFORE deduplicating: the wide pair rows (two vectors each)
    # then live only inside the join stage — pipelined, never shuffled —
    # and the dedup exchange moves 24-byte (q, n, sim) triples instead of
    # ~1 KB rows (the difference between MBs and GBs of shuffle at 10×).
    # Probe buckets are distinct XOR masks, so a pair can only repeat via
    # duplicate input ids — the dedup is a cheap safety net, not the
    # workhorse; cosine is deterministic per pair, so dedup-after-score
    # is value-identical to dedup-before-score.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return top_n_per_key(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 42,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, LSH-bucketed.

    Same-bucket pairing (near-identical vectors almost surely share all
    sign bits) via the grouped-postings helper — the sketch pipeline runs
    once, not on both sides of a self-join — then exact cosine
    verification. The dedup analog of cosine_topk_lsh.
    ``max_bucket_size`` drops pathologically hot sketch buckets before
    pairing, with drop counts readable from ``observation`` — see
    ``dedup.pair_up``.
    """
    from .dedup import pair_up

    planes = _hyperplanes(dim, n_planes, seed)
    vectors = _spread(vectors)
    sk = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("_n"),
        lsh_sketch(F.col(vec_col), planes).alias("bucket"),
    )
    pairs = pair_up(
        sk,
        ["bucket"],
        [id_col, vec_col, "_n"],
        max_bucket_size=max_bucket_size,
        observation=observation,
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(
            dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
            / (F.col("a._n") * F.col("b._n")),
            6,
        ).alias("cosine_sim"),
    )
    return pairs.filter(F.col("cosine_sim") >= threshold).distinct()


def _cell_assignment(
    vec: Column, centroids: list[list[float]], n_probe: int = 1
) -> Column:
    """Ids of the ``n_probe`` centroids nearest (by dot product) to ``vec``.

    Arrow-batched numpy GEMM: each batch scores against the whole centroid
    matrix in one BLAS call — ``(batch, dim) @ (dim, n_cells)`` — instead
    of n_cells interpreted array folds per row (and an expression tree of
    n_cells × dim literals whose compile time alone dominates small runs).
    The centroid matrix rides into executors via the UDF closure — it is
    the coarse quantizer, dozens-to-thousands of cells, broadcast-sized by
    construction. Ties break toward the higher cell id, matching the
    struct-max tie-break of the pure-expression formulation this replaces.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_cells)
    n_cells = cmat.shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def cells(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy()).astype(np.float64)  # (b, dim)
        dots = mat @ cmat  # (b, n_cells)
        # desc by dot, ties → higher cell id: stable argsort over the
        # column-reversed matrix, indices mapped back
        order = (n_cells - 1) - np.argsort(
            -dots[:, ::-1], axis=1, kind="stable"
        )
        probes = order[:, :n_probe].astype(np.int32)
        return pd.Series(list(probes))

    return cells(vec)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: the ``n_cells`` corpus
    vectors ranked first by a seeded hash of their id (a k-means|| style
    seeding without the iterative refinement — adequate as a cell
    partitioner; swap in pyspark.ml KMeans offline for tighter cells).
    Driver-side collect of n_cells rows only. ``hash_fn='md5'`` ranks by
    the DuckDB-replayable 60-bit digest slice
    (``md5(f"{seed}:{id}")``) so the whole IVF index — seeding, cell
    assignment, probing — can be rebuilt by a SQL oracle."""
    if hash_fn == "md5":
        rank = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    else:
        rank = F.xxhash64(F.col("_id").cast("string"), F.lit(seed))
    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(rank, F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    return [[float(x) for x in r._v] for r in rows]


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_digits: int = 6,
    refine_iters: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned
    to their nearest coarse-quantizer cell; each query scores only the
    corpus rows in its ``n_probe`` nearest cells.

    Versus sign-bit LSH: cells adapt to the data distribution (centroids
    are corpus vectors), and recall/cost trades via ``n_probe`` without
    re-indexing. ``refine_iters`` > 0 runs that many distributed
    spherical-k-means rounds (``kmeans_refine``) over the sampled seeds
    before indexing. At 100 TB the corpus-side assignment is a narrow
    one-pass projection; materialize it partitioned/bucketed by ``cell``
    so each query probe is a pruned equi-join, not a scan.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_cells, seed, hash_fn)
    if refine_iters > 0:
        cents = kmeans_refine(corpus, cents, vec_col, refine_iters)
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
        F.element_at(_cell_assignment(F.col(vec_col), cents, 1), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qn"),
        F.explode(_cell_assignment(F.col(vec_col), cents, n_probe)).alias("cell"),
    )
    pairs = c.join(F.broadcast(q), on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    return top_n_per_key(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


def semantic_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    refine_iters: int = 1,
    max_cell_size: int | None = None,
    observation=None,
    round_digits: int = 6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SemDeDup-style bucketed semantic near-dup pairs (Abbas et al. 2023):
    k-means-cell the embedding space, then score pairwise cosine ONLY
    within cells — the published scale recipe for semantic dedup, where
    sign-bit LSH banding fails (at the ~0.4-0.5 cosine thresholds
    semantic dedup uses, bands must be so short that buckets approach the
    whole corpus).

    Each vector is assigned to its ``n_probe`` nearest cells
    (multi-assignment recovers most boundary-crossing pairs; SemDeDup
    itself accepts single-cell misses). Pair cost is
    ~``n_probe² · n² / n_cells`` — pick ``n_cells`` ∝ corpus size for a
    constant expected cell width, and the quadratic term is gone. Cells
    come from the same deterministic seeded centroids + distributed
    spherical-k-means refinement as the IVF index; ``max_cell_size``
    drops degenerate cells (an embedding-collapse cluster) with the
    drop count readable from ``observation`` — the same hot-bucket
    guard as the text-side LSH paths.

    Execution shape (the canonical SemDeDup kernel): each cell's vectors
    gather into one Arrow group where a single BLAS GEMM
    ``(c, dim) @ (dim, c)`` scores all pairs at a RELAXED threshold
    (margin 1e-3 — far wider than GEMM-vs-fold accumulation drift), and
    the surviving candidates are re-scored exactly with the same
    sequential-fold ``dot`` the brute-force baseline uses, so the final
    pair set and cosine values are bit-identical to the unbucketed exact
    operator restricted to within-cell pairs. (The first formulation —
    grouped-postings ``pair_up`` with an interpreted per-pair fold — was
    ~6× slower: higher-order-function folds don't enter codegen, and the
    combination explode copies both vectors into every candidate row.)
    """
    cents = ivf_centroids(vectors, id_col, vec_col, n_cells, seed, hash_fn)
    if refine_iters > 0:
        cents = kmeans_refine(vectors, cents, vec_col, refine_iters)
    id_type = vectors.schema[id_col].dataType.simpleString()
    v = _spread(vectors).select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.explode(
            _cell_assignment(F.col(vec_col), cents, n_probe)
        ).alias("cell"),
    )
    if max_cell_size is not None:
        sizes = v.groupBy("cell").agg(F.count(F.lit(1)).alias("_csz"))
        hot = F.col("_csz") > max_cell_size
        if observation is not None:
            sizes = sizes.observe(
                observation,
                F.sum(hot.cast("long")).alias("dropped_buckets"),
                F.sum(F.when(hot, F.col("_csz")).otherwise(0)).alias(
                    "dropped_rows"
                ),
            )
        v = v.join(
            F.broadcast(sizes.filter(~hot).select("cell")), "cell"
        )
    t_prefilter = threshold - 1e-3

    def cell_pairs(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype(
                {"id_a": "int64", "id_b": "int64"}
            )
        ids = pdf[id_col].to_numpy()
        mat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ (mat / norms[:, None]).T
        iu, ju = np.triu_indices(n, 1)
        keep = sims[iu, ju] >= t_prefilter
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cand = (
        v.groupBy("cell")
        .applyInPandas(cell_pairs, schema=f"id_a {id_type}, id_b {id_type}")
        .distinct()
    )
    a = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                round_digits,
            ).alias("cosine_sim"),
        )
    )
    return scored.filter(F.col("cosine_sim") >= threshold)


def cosine_scores_pandas_udf(corpus: DataFrame, query_vec: list[float], vec_col: str = "embedding"):
    """Arrow-batched numpy scoring — the fast path for wide (≥512-dim)
    vectors where a per-element codegen fold is slower than BLAS.

    Returns corpus with an appended ``cosine_sim`` column.

    pandas is imported at module level so the UDF's ``pd.Series`` type
    hints resolve under ``from __future__ import annotations`` (string
    hints are looked up in the module globals at registration time).
    """
    from pyspark.sql.types import DoubleType
    from pyspark.sql.functions import pandas_udf

    qv = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(qv)

    @pandas_udf(DoubleType())
    def score(batch: pd.Series) -> pd.Series:
        mat = np.vstack(batch.to_numpy())  # (batch, dim) float32 → float64
        mat = mat.astype(np.float64)
        dots = mat @ qv
        norms = np.linalg.norm(mat, axis=1) * qn
        return pd.Series(np.where(norms > 0, dots / norms, 0.0))

    return corpus.withColumn("cosine_sim", score(F.col(vec_col)))


def vector_centroids(
    df: DataFrame,
    key_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Element-wise mean vector per key, in long format (key, pos, v).

    posexplode → (key, position) hash agg: the shuffle carries one partial
    (sum, count) per key×dimension — dims × keys rows regardless of corpus
    size, and the per-position averages combine map-side. The long format
    IS the scalable representation; pivot back with ``array_agg`` ordered
    by pos only for small outputs (the true-mean upgrade path for
    ``ivf_centroids``' sampled cells).
    """
    pos = df.select(
        F.col(key_col), F.posexplode(F.col(vec_col)).alias("pos", "_v")
    )
    return (
        pos.groupBy(key_col, F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg("_v"), round_digits).alias("v"))
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    iters: int = 3,
) -> list[list[float]]:
    """Spherical k-means (Lloyd's) refinement of coarse-quantizer
    centroids — the "swap in real k-means" upgrade path named by
    ``ivf_centroids``.

    Distributed shape per iteration:

    - **assign**: one narrow pass over the corpus via the Arrow-batched
      GEMM assignment UDF. Centroids are L2-normalized, so the dot-product
      argmax IS the cosine argmax — standard spherical k-means, the right
      objective for a cosine/IP retrieval index.
    - **update**: mean of the members' UNIT vectors (the closed-form
      maximizer of the within-cell cosine sum — averaging raw vectors
      would weight members by norm and break the objective guarantee),
      via ``vector_centroids`` keyed by cell: the shuffle carries one
      (sum, count) partial per cell×dimension — k·dim rows regardless of
      corpus size, map-side combined. Zero-norm vectors have no
      direction and are excluded from updates.
    - **driver**: collect the k·dim means (the model state, a few KB),
      re-normalize, loop. Empty cells keep their previous centroid.
      Means are rounded to 9 decimals so partition-order float jitter in
      the distributed avg stays out of the returned centroids except in
      the measure-zero case of a mean within half an ulp of a rounding
      boundary.

    The unit-normalized projection is built ONCE above the loop (the
    assignment argmax is scale-invariant, so assigning on unit vectors is
    equivalent) and PERSISTED across iterations when iters > 1 —
    otherwise every Lloyd round re-scans the corpus and re-runs the
    normalization lineage; memory-and-disk so a 100 TB corpus spills
    instead of OOMing, released before returning. Convergence: the
    spherical k-means objective Σ cos(v, c(v)) is non-decreasing per
    exact-arithmetic iteration; we run a fixed small ``iters`` (IVF needs
    balanced cells, not a converged clustering).
    """

    def _unit(vs: list[list[float]]) -> list[list[float]]:
        out = []
        for v in vs:
            a = np.asarray(v, dtype=np.float64)
            n = float(np.linalg.norm(a))
            out.append([float(x) for x in (a / n if n > 0 else a)])
        return out

    unit = (
        corpus.select(
            F.col(vec_col).alias("_raw"), norm(F.col(vec_col)).alias("_n")
        )
        .filter(F.col("_n") > 0)
        .select(
            F.transform(
                "_raw", lambda x: x.cast("double") / F.col("_n")
            ).alias("_v")
        )
    )
    persisted = None
    if iters > 1:
        from pyspark import StorageLevel

        unit = unit.persist(StorageLevel.MEMORY_AND_DISK)
        persisted = unit
    try:
        cents = _unit([list(c) for c in centroids])
        for _ in range(iters):
            assigned = unit.select(
                F.element_at(_cell_assignment(F.col("_v"), cents, 1), 1).alias(
                    "cell"
                ),
                "_v",
            )
            means = vector_centroids(assigned, "cell", "_v", round_digits=9)
            by_cell: dict[int, dict[int, float]] = {}
            for r in means.collect():
                by_cell.setdefault(r.cell, {})[int(r.pos)] = r.v
            nxt = [list(c) for c in cents]
            for cell, d in by_cell.items():
                nxt[cell] = [d[p] for p in sorted(d)]
            cents = _unit(nxt)
        return cents
    finally:
        if persisted is not None:
            persisted.unpersist()


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF index projection of ``vectors`` under a FIXED quantizer:
    (id, vec, precomputed norm, top-1 cell). Shared by the one-shot
    build, the incremental append, and the streaming maintainer — the
    invariant that makes append-only maintenance correct is exactly
    that all three run this same assignment against the same frozen
    centroids."""
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        norm(F.col(vec_col)).alias("vec_norm"),
        F.element_at(_cell_assignment(F.col(vec_col), centroids, 1), 1).alias("cell"),
    )


def materialize_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> list[list[float]]:
    """Write the IVF index as parquet PARTITIONED BY cell; returns the
    centroids (persist them alongside — they ARE the index metadata).

    This is the materialized form of ``cosine_topk_ivf``'s corpus side:
    assignment runs once at build time, and every later query reads only
    its probe cells via partition pruning — at 100 TB a query touches
    n_probe/n_cells of the files, no scan of the rest. Norms are
    precomputed into the index so query-time work is one dot per
    candidate.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_cells, seed)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    assigned.write.partitionBy("cell").mode("overwrite").parquet(path)
    return cents


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Append newly-arrived vectors to a materialized IVF index WITHOUT
    touching the existing files: assign against the FROZEN centroids
    (so results over the grown index are identical to a full rebuild
    under the same quantizer — pinned by ``cosine_topk_ivf_incremental``
    and tests), write under ``batch=<id>/cell=<k>/``.

    Layout: ``path/batch=N/cell=K/part-*.parquet``. Readers see two
    partition columns and still prune on ``cell`` (probe joins touch
    n_probe/n_cells of the files regardless of how many batches have
    landed); writers get IDEMPOTENT retry for free because a re-run of
    batch N overwrites exactly its own ``batch=N`` directory — the same
    batch-id banking discipline as ``start_online_linear_train``. Cost
    per append tracks the BATCH, never the corpus: one narrow
    assignment pass over the new rows, no shuffle, no rewrite of
    existing cells. Compact small per-batch files with
    ``operators.layout.compact_small_files`` on a maintenance cadence,
    and re-train centroids offline only when drift degrades recall (the
    contract floor in ``ann_recall_contract`` is the canary)."""
    assigned = ivf_assign(new_vectors, centroids, id_col, vec_col)
    target = path if batch_id is None else f"{path}/batch={batch_id}"
    mode = "append" if batch_id is None else "overwrite"
    assigned.write.partitionBy("cell").mode(mode).parquet(target)


def cosine_topk_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Query a materialized IVF index: probe-cell explode on the query
    side, broadcast-join against the partitioned index — Spark's dynamic
    partition pruning turns the probe list into a partition filter on the
    index scan (pinned in tests), so only n_probe cells' files are read.
    """
    idx = spark.read.parquet(path)
    return cosine_topk_ivf_from_index(
        idx, queries, centroids, id_col, vec_col, k, n_probe, round_digits
    )


def cosine_topk_ivf_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Serve top-k from an already-assigned IVF index RELATION
    (columns ``id_col, vec_col, vec_norm, cell`` — the ``ivf_assign``
    projection, whether it came from a partitioned parquet read, a
    streaming maintainer's root, or an in-plan union of base + appended
    batches). Extra columns (e.g. the ``batch`` partition directory of
    the online maintainer) are dropped by the select."""
    idx = index.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        F.col("vec_norm").alias("_cn"),
        "cell",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        norm(F.col(vec_col)).alias("_qn"),
        F.explode(_cell_assignment(F.col(vec_col), centroids, n_probe)).alias(
            "cell"
        ),
    )
    pairs = idx.join(F.broadcast(q), on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            dot(F.col("_qvec"), F.col("_cvec")) / (F.col("_qn") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    return top_n_per_key(
        scored,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ style): train / encode / ADC scan / rerank
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m_sub: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    iters: int = 2,
    hash_fn: str = "xxhash64",
) -> list[list[list[float]]]:
    """Train per-subspace PQ codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m_sub`` contiguous subvectors and run k-means with
    ``n_codes`` centroids independently in each subspace.

    Distributed shape per Lloyd round: ONE narrow assignment pass over the
    (sub_idx, subvec) relation (Arrow-batched numpy), then a
    ``vector_centroids`` update whose shuffle carries one (sum, count)
    partial per (subspace × code × dimension) — m·k·d rows regardless of
    corpus size. Driver state is the codebook tensor (m·k·d floats — for
    8×16×8 that's 1 KB): the classic big-data/small-model split.
    Seeding: subvectors of ``n_codes`` hash-ranked corpus rows (same
    deterministic seeding as ``ivf_centroids``).
    """
    seeds = ivf_centroids(corpus, id_col, vec_col, n_codes, seed, hash_fn)
    dim = len(seeds[0])
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d = dim // m_sub
    tensor = np.asarray(seeds, dtype=np.float64).reshape(
        n_codes, m_sub, d
    ).transpose(1, 0, 2).copy()  # (m_sub, n_codes, d)

    subvecs = (
        _spread(corpus)
        .select(F.col(vec_col).alias("_v"))
        .select(
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m_sub - 1)),
                    lambda i: F.slice(
                        F.col("_v"), i * d + 1, d
                    ).cast("array<double>"),
                )
            ).alias("sub_idx", "subvec")
        )
    )
    persisted = None
    if iters > 1:
        from pyspark import StorageLevel

        subvecs = subvecs.persist(StorageLevel.MEMORY_AND_DISK)
        persisted = subvecs
    try:
        for _ in range(iters):
            code = _pq_assign(F.col("sub_idx"), F.col("subvec"), tensor)
            assigned = subvecs.select(
                (F.col("sub_idx") * n_codes + code).alias("_key"), "subvec"
            )
            means = vector_centroids(assigned, "_key", "subvec", round_digits=9)
            upd: dict[int, dict[int, float]] = {}
            for r in means.collect():
                upd.setdefault(int(r._key), {})[int(r.pos)] = r.v
            for key, dims in upd.items():
                m_i, c_i = divmod(key, n_codes)
                tensor[m_i, c_i] = [dims[p] for p in sorted(dims)]
        return [[list(map(float, c)) for c in cb] for cb in tensor]
    finally:
        if persisted is not None:
            persisted.unpersist()


def _pq_assign(sub_idx: Column, subvec: Column, tensor) -> Column:
    """Nearest-code id (L2, ties → lowest code) per (subspace, subvector)
    row — Arrow-batched; the codebook tensor rides the UDF closure."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cb = np.asarray(tensor, dtype=np.float64)  # (m, k, d)

    @pandas_udf(IntegerType())
    def assign(si: pd.Series, sv: pd.Series) -> pd.Series:
        mat = np.vstack(sv.to_numpy()).astype(np.float64)
        idx = si.to_numpy()
        out = np.zeros(len(idx), dtype=np.int32)
        for m_i in np.unique(idx):
            mask = idx == m_i
            diff = mat[mask][:, None, :] - cb[m_i][None, :, :]
            out[mask] = (diff * diff).sum(-1).argmin(1)
        return pd.Series(out)

    return assign(sub_idx, subvec)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m_sub`` code ids + its exact norm:
    8 codes ≈ 8 bytes versus 256 bytes of float32 — the 32× memory
    compression that lets a 100 TB corpus' index live in RAM. One narrow
    Arrow pass; no shuffle."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cb = np.asarray(codebooks, dtype=np.float64)  # (m, k, d)
    m_sub, _k, d = cb.shape

    @pandas_udf(ArrayType(IntegerType()))
    def enc(vs: pd.Series) -> pd.Series:
        mat = np.vstack(vs.to_numpy()).astype(np.float64)
        sub = mat.reshape(len(mat), m_sub, d)
        codes = np.zeros((len(mat), m_sub), dtype=np.int32)
        for m_i in range(m_sub):
            diff = sub[:, m_i, None, :] - cb[m_i][None, :, :]
            codes[:, m_i] = (diff * diff).sum(-1).argmin(1)
        return pd.Series(list(codes))

    return _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
        enc(F.col(vec_col)).alias("codes"),
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m_sub: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    iters: int = 2,
    rerank_factor: int = 4,
    round_digits: int = 6,
    max_queries: int = 100_000,
    codebooks: list[list[list[float]]] | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation (ADC) and
    exact rerank — the standard two-stage shape of IVF-PQ engines:

    1. **ADC scan**: each corpus row costs ``m_sub`` table lookups (not a
       ``dim``-length dot): per query, the dot of its subvectors against
       every code is precomputed into a (m_sub × n_codes) lookup table on
       the driver (the query side is the bounded side, collected like a
       broadcast), and one Arrow pass sums LUT entries per encoded row.
    2. **Exact rerank**: the top ``k·rerank_factor`` ADC candidates per
       query — a tiny relation — join back to their raw vectors for true
       cosine; final top-k uses exact scores, so reported similarities
       match the brute-force values for every neighbor it keeps.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    # ``codebooks`` lets callers separate TRAIN from QUERY — the
    # production ANN shape (index once, serve many probe batches) and
    # what the contract layer uses to share one deterministic train
    # across the pq / ivf_pq / recall-contract queries.
    cb_list = codebooks or pq_train_codebooks(
        corpus, vec_col, id_col, m_sub, n_codes, seed, iters, hash_fn
    )
    cb = np.asarray(cb_list, dtype=np.float64)  # (m, k, d)
    d = cb.shape[2]

    # The ADC lookup tables are driver-built (n_q × m_sub × n_codes
    # einsum), which bounds how large a query side this entry point may
    # serve. limit(max+1) keeps the guard itself from collecting an
    # unbounded relation before it can raise.
    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            norm(F.col(vec_col)).alias("_qn"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_pq: query side exceeds max_queries="
            f"{max_queries}. ADC LUTs are built on the driver, so this "
            "operator serves bounded probe sets; for join-shaped "
            "workloads chunk the query side and union the results, or "
            "raise max_queries explicitly if the driver has headroom."
        )
    if not qrows:
        raise ValueError("cosine_topk_pq: empty query side")
    qmat = np.asarray(
        [[float(x) for x in r._qvec] for r in qrows], dtype=np.float64
    )
    n_q = len(qrows)
    qsub = qmat.reshape(n_q, m_sub, d)
    # luts[q, m, c] = <query_q subvector m, code c of subspace m>
    luts = np.einsum("qmd,mcd->qmc", qsub, cb)

    @pandas_udf(ArrayType(DoubleType()))
    def adc(codes: pd.Series) -> pd.Series:
        C = np.vstack(codes.to_numpy())  # (b, m_sub) int codes
        acc = np.zeros((len(C), n_q), dtype=np.float64)
        for m_i in range(m_sub):
            # luts[:, m_i, :] is (n_q, n_codes); gather per-row code → (b, n_q)
            acc += luts[:, m_i, :].T[C[:, m_i]]
        return pd.Series(list(acc))

    enc = pq_encode(corpus, cb_list, id_col, vec_col)
    qmeta = corpus.sparkSession.createDataFrame(
        [(i, r.query_id, float(r._qn)) for i, r in enumerate(qrows)],
        "qidx int, query_id long, _qn double",
    )
    # ADC + candidate ranking run on NARROW rows (ids, norms, scores):
    # carrying the raw vector through the n_q-way posexplode and the
    # rank exchange multiplied every corpus array n_q× through the
    # map-side top-n sort (guide §2.3/§8 — decide on a lightweight
    # proxy, re-attach the payload once).
    scored = (
        enc.select(
            "neighbor_id",
            "_cn",
            F.posexplode(adc(F.col("codes"))).alias("qidx", "_adc"),
        )
        .join(F.broadcast(qmeta), "qidx")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "_cn",
            "_qn",
            (F.col("_adc") / (F.col("_qn") * F.col("_cn"))).alias("_approx"),
        )
    )
    cand = top_n_per_key(
        scored,
        ["query_id"],
        [F.col("_approx").desc(), F.col("neighbor_id").asc()],
        n=k * rerank_factor,
    )
    qvecs = corpus.sparkSession.createDataFrame(
        [(r.query_id, [float(x) for x in r._qvec]) for r in qrows],
        f"query_id long, _qvec array<double>",
    )
    # exact rerank re-attaches the raw corpus vectors to the tiny
    # candidate set: the corpus scan joins against the BROADCAST
    # candidates, so the heavy arrays never shuffle at all.
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    exact = (
        cvecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ).alias("cosine_sim"),
        )
    )
    return top_n_per_key(
        exact,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


def cosine_topk_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m_sub: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    iters: int = 1,
    rerank_factor: int = 4,
    round_digits: int = 6,
    max_queries: int = 100_000,
    codebooks: list[list[list[float]]] | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """IVF-PQ: the canonical billion-scale ANN shape — coarse cells prune
    WHICH rows get scored, PQ codes make each scored row cost ``m_sub``
    lookups, and an exact rerank fixes the final ordering.

    Versus plain PQ (``cosine_topk_pq``) the ADC scan touches only the
    rows inside each query's ``n_probe`` cells: the scored-pair relation
    comes from a cell equi-join of the encoded corpus against the (tiny,
    broadcast) exploded probe list, so cost scales with
    ``n_probe / n_cells`` of the corpus per query instead of all of it.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    cents = ivf_centroids(corpus, id_col, vec_col, n_cells, seed, hash_fn)
    # Injectable codebooks: same train/query split as ``cosine_topk_pq``.
    cb_list = codebooks or pq_train_codebooks(
        corpus, vec_col, id_col, m_sub, n_codes, seed, iters, hash_fn
    )
    cb = np.asarray(cb_list, dtype=np.float64)
    d = cb.shape[2]

    # Same driver-side LUT bound as cosine_topk_pq: guard before collect.
    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            norm(F.col(vec_col)).alias("_qn"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_ivf_pq: query side exceeds max_queries="
            f"{max_queries}. ADC LUTs are built on the driver, so this "
            "operator serves bounded probe sets; for join-shaped "
            "workloads chunk the query side and union the results, or "
            "raise max_queries explicitly if the driver has headroom."
        )
    if not qrows:
        raise ValueError("cosine_topk_ivf_pq: empty query side")
    qmat = np.asarray(
        [[float(x) for x in r._qvec] for r in qrows], dtype=np.float64
    )
    n_q = len(qrows)
    luts = np.einsum(
        "qmd,mcd->qmc", qmat.reshape(n_q, m_sub, d), cb
    )  # (n_q, m_sub, n_codes)

    @pandas_udf(DoubleType())
    def adc_pair(codes: pd.Series, qidx: pd.Series) -> pd.Series:
        C = np.vstack(codes.to_numpy())  # (b, m_sub)
        qi = qidx.to_numpy()
        acc = np.zeros(len(C), dtype=np.float64)
        for m_i in range(m_sub):
            acc += luts[qi, m_i, C[:, m_i]]
        return pd.Series(acc)

    enc = pq_encode(corpus, cb_list, id_col, vec_col).withColumn(
        "cell",
        F.element_at(_cell_assignment(F.col("_cvec"), cents, 1), 1),
    )
    probe_rows = []
    qcells = _probe_cells(qmat, cents, n_probe)
    for i, r in enumerate(qrows):
        for cell in qcells[i]:
            probe_rows.append((int(cell), i, r.query_id, float(r._qn)))
    probes = corpus.sparkSession.createDataFrame(
        probe_rows, "cell int, qidx int, query_id long, _qn double"
    )
    pairs = enc.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # Narrow candidate ranking + broadcast-rejoin rerank, exactly as in
    # ``cosine_topk_pq``: the raw corpus vector stays out of the probe
    # join and the rank exchange.
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        "_cn",
        "_qn",
        (
            adc_pair(F.col("codes"), F.col("qidx"))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("_approx"),
    )
    cand = top_n_per_key(
        scored,
        ["query_id"],
        [F.col("_approx").desc(), F.col("neighbor_id").asc()],
        n=k * rerank_factor,
    )
    qvecs = corpus.sparkSession.createDataFrame(
        [(r.query_id, [float(x) for x in r._qvec]) for r in qrows],
        "query_id long, _qvec array<double>",
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec")
    )
    exact = (
        cvecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("_qvec"), F.col("_cvec"))
                / (F.col("_qn") * F.col("_cn")),
                round_digits,
            ).alias("cosine_sim"),
        )
    )
    return top_n_per_key(
        exact,
        ["query_id"],
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        n=k,
    )


def _probe_cells(qmat, centroids: list[list[float]], n_probe: int):
    """Driver-side probe-cell selection for a collected query matrix —
    same dot-product ordering and higher-id tie-break as
    ``_cell_assignment``."""
    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, n_cells)
    n_cells = cmat.shape[1]
    dots = qmat @ cmat
    order = (n_cells - 1) - np.argsort(-dots[:, ::-1], axis=1, kind="stable")
    return order[:, :n_probe]


def hard_negative_mining(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Hard negatives for contrastive training: for every vector, the k
    most-similar vectors with a DIFFERENT label — the near-boundary
    pairs a contrastive/metric-learning loss needs (random negatives are
    trivially easy; the hard ones define the decision margin).

    This is the EXACT all-pairs baseline (label-filtered cross join with
    the anchor side broadcast), the labeled ground truth the approximate
    path is scored against — mine at corpus scale through the IVF/LSH
    bucketed family (``cosine_topk_ivf``) with the label filter applied
    inside each cell instead. Cosine is rounded before ranking, ties
    break by negative id, so the mined set is deterministic across
    engines and accumulation orders.
    """
    a = vectors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        F.col(vec_col).alias("_avec"),
        norm(F.col(vec_col)).alias("_an"),
    )
    c = _spread(vectors).select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("_clbl"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    pairs = c.crossJoin(F.broadcast(a)).filter(
        F.col("_albl") != F.col("_clbl")
    )
    scored = pairs.select(
        "anchor_id",
        "negative_id",
        F.round(
            dot(F.col("_avec"), F.col("_cvec")) / (F.col("_an") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    )
    return top_n_per_key(
        scored,
        ["anchor_id"],
        [F.col("cosine_sim").desc(), F.col("negative_id").asc()],
        n=k,
    )


def hard_negative_mining_lsh(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 1,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
    round_digits: int = 6,
    multi_probe: int = 1,
) -> DataFrame:
    """LSH-bucketed hard-negative miner — the scale path for
    ``hard_negative_mining`` (which is the exact all-pairs baseline).

    Every vector is an anchor; candidates are the different-label vectors
    in the anchor's probe buckets (own sketch + Hamming-``multi_probe``
    neighbors), scored by exact cosine and top-k'd with the same
    rounded-then-ranked deterministic tie-breaks as the exact miner — so
    emitted pairs are always TRUE cosines of genuinely cross-label rows
    (never sketch approximations); only completeness is approximate.

    Scale shape: the corpus is sketched once (narrow Arrow GEMM stage);
    anchors explode to ``1 + n_planes·multi_probe`` probe rows and meet
    the corpus in a shuffle equi-join on the 8-byte bucket key — never a
    broadcast (the anchor side IS the corpus) and never all-pairs. With
    ``adaptive_n_planes`` bucket occupancy stays ~constant, so pair work
    is O(n · probes · target_bucket) — linear in the corpus.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    c = _spread(vectors).select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("_clbl"),
        F.col(vec_col).alias("_cvec"),
        norm(F.col(vec_col)).alias("_cn"),
        lsh_sketch(F.col(vec_col), planes).alias("bucket"),
    )
    base = lsh_sketch(F.col(vec_col), planes)
    probe_exprs = [base]
    if multi_probe >= 1:
        probe_exprs += [base.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if multi_probe >= 2:
        probe_exprs += [
            base.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    a = _spread(vectors).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("_albl"),
        F.col(vec_col).alias("_avec"),
        norm(F.col(vec_col)).alias("_an"),
        F.explode(F.array(*probe_exprs)).alias("bucket"),
    )
    pairs = c.join(a, on="bucket").filter(F.col("_albl") != F.col("_clbl"))
    # Score before dedup so the wide pair rows never cross a shuffle —
    # see cosine_topk_lsh (the dedup exchange then carries 24-byte
    # triples; probe buckets are distinct XOR masks, so the dedup is a
    # duplicate-id safety net, not the workhorse).
    scored = pairs.select(
        "anchor_id",
        "negative_id",
        F.round(
            dot(F.col("_avec"), F.col("_cvec")) / (F.col("_an") * F.col("_cn")),
            round_digits,
        ).alias("cosine_sim"),
    ).dropDuplicates(["anchor_id", "negative_id"])
    return top_n_per_key(
        scored,
        ["anchor_id"],
        [F.col("cosine_sim").desc(), F.col("negative_id").asc()],
        n=k,
    )
