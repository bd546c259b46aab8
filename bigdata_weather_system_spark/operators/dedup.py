"""Deduplication operators for training-data pipelines.

Five dedup strategies, scale-ranked:

- **exact**: hash-groupBy on (normalized) content. One shuffle keyed by a
  64-bit hash — at 100 TB, group on ``xxhash64`` of the text, never the text
  itself, so shuffle rows stay ~16 bytes.
- **n-gram Jaccard**: exact set similarity via shingle explode + self-join.
  Quadratic in cluster size — correct, used as the verify step.
- **MinHash + LSH**: near-dup at scale. signature = min over shingle hashes
  per seed; band-hash bucketing turns the O(n²) pair space into joins on
  bucket keys; candidates verified with true Jaccard.
- **SimHash**: 64-bit weighted-bit fingerprint + Hamming-ball banding.
- **embedding cosine**: semantic near-dup over the embeddings table (see
  operators/similarity.py for the cosine machinery).

Everything is built-in column expressions (xxhash64, explode, groupBy,
bitwise ops) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .similarity import _spread
from .text import normalize_text, word_shingles


#: Jaccard scores are rounded to this many digits before the threshold
#: compare (keeps Spark/DuckDB float agreement); the prefix-filter
#: relaxation below is derived from it — change them together.
_ROUND_DIGITS = 6


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Keep the smallest-id document per identical (normalized) text.

    Returns the surviving rows of ``df``. Grouping key is the md5 of the
    content, not the content — constant-width shuffle rows at any scale.
    """
    key = F.md5(normalize_text(F.col(text_col)) if normalize else F.col(text_col))
    keyed = df.withColumn("_ck", key)
    survivors = keyed.groupBy("_ck").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(survivors, on=["_ck", id_col], how="left_semi").drop("_ck")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact set similarity — also the MinHash verify step)
# ---------------------------------------------------------------------------

def pair_up(
    df: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """All i<j payload pairs sharing a bucket key, as struct columns
    ``a`` / ``b``.

    Grouped-postings formulation: groupBy the bucket → sorted postings
    list → array-lambda combinations. One shuffle and ONE evaluation of
    the upstream pipeline, where the equivalent self-join evaluates it on
    both sides and shuffles both copies. ``payload_cols[0]`` must be the
    id — the postings sort orders structs by it, so ``a < b`` holds by
    construction.

    Emitted pair count is Σ buckets c·(c−1)/2, identical to the
    self-join. ``max_bucket_size`` is the hot-bucket guard: buckets with
    more members are DROPPED entirely (a bucket that hot — boilerplate
    text, a degenerate LSH band — carries ~zero similarity signal but
    c²/2 pair cost, the one shape that goes quadratic at corpus scale).
    Dropping whole buckets keeps the output deterministic and unbiased
    within kept buckets, where truncating postings would silently prefer
    low ids. Pass a ``pyspark.sql.Observation`` to read how much was
    dropped (``dropped_buckets`` / ``dropped_rows``) from the same pass —
    no extra job.
    """
    plist = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in payload_cols]))
    )
    g = (
        df.groupBy(*[F.col(c) for c in bucket_cols])
        .agg(plist.alias("_ps"))
        .filter(F.size("_ps") > 1)
    )
    if max_bucket_size is not None:
        hot = F.size("_ps") > max_bucket_size
        if observation is not None:
            g = g.observe(
                observation,
                F.sum(hot.cast("long")).alias("dropped_buckets"),
                F.sum(F.when(hot, F.size("_ps")).otherwise(0)).alias(
                    "dropped_rows"
                ),
            )
        g = g.filter(~hot)
    combos = F.flatten(
        F.transform(
            F.col("_ps"),
            lambda x, i: F.transform(
                F.slice(F.col("_ps"), i + 2, F.size(F.col("_ps"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return g.select(F.explode(combos).alias("p")).select("p.a", "p.b")


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles array, set size) per document."""
    return _spread(df).select(
        F.col(id_col),
        word_shingles(F.col(text_col), n).alias("shingles"),
    ).withColumn("set_size", F.size("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All document pairs (id_a < id_b) with shingle-Jaccard ≥ threshold.

    Grouped-inverted-index formulation: explode → groupBy the 64-bit
    shingle HASH (8-byte shuffle keys, never the string) collecting the
    doc postings list → emit i<j pair combinations per list with array
    lambdas → count per pair. Versus the naive exploded self-join this
    reads and shingles the corpus ONCE (the self-join evaluates the whole
    regex/shingle pipeline on both sides) and replaces the join's
    two-sided shuffle with a single map-side-combining aggregation.

    Output row count is identical (sum over shingles of c², c = docs per
    shingle) — hot boilerplate shingles are still the skew/blowup risk at
    corpus scale, which is intrinsic to exact Jaccard; cap them upstream
    with a hot-shingle drop list (see doc_top_ngrams) or use the MinHash
    path when approximation is acceptable.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    common = _pair_overlap_stats(sets, id_col)
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        common.withColumn("jaccard", F.round(jac, _ROUND_DIGITS))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def _pair_overlap_stats(sets: DataFrame, id_col: str) -> DataFrame:
    """(id_a < id_b, size_a, size_b, n_common) for every document pair
    sharing ≥1 shingle — the shared grouped-inverted-index core of the
    exact Jaccard and containment joins. One explode, one
    map-side-combining groupBy per shingle hash, one per-pair count."""
    exploded = sets.select(
        F.col(id_col), "set_size", F.explode("shingles").alias("shingle")
    )
    postings = (
        exploded.groupBy(F.xxhash64("shingle").alias("_sh"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("i"), "set_size"))
            ).alias("_docs")
        )
        .filter(F.size("_docs") > 1)
    )
    # all i<j combinations of each postings list (sorted, so struct order
    # gives id_a < id_b for free)
    combos = F.flatten(
        F.transform(
            F.col("_docs"),
            lambda x, i: F.transform(
                F.slice(F.col("_docs"), i + 2, F.size(F.col("_docs"))),
                lambda y: F.struct(
                    x["i"].alias("id_a"),
                    y["i"].alias("id_b"),
                    x["set_size"].alias("size_a"),
                    y["set_size"].alias("size_b"),
                ),
            ),
        )
    )
    return (
        postings.select(F.explode(combos).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.size_a", "p.size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Document pairs where the SMALLER shingle set is ≥ ``threshold``
    contained in the other: max(c/|A|, c/|B|) ≥ t.

    Containment is the asymmetric near-dup relation Jaccard misses: a
    paragraph quoted inside a much longer article has tiny Jaccard (union
    is dominated by the long side) but containment ≈ 1 on the short side
    — exactly the "document embedded in another" case a corpus-dedup
    pass wants to catch. Same inverted-index core as the Jaccard join
    (one explode + two grouped aggregations, never an all-pairs join);
    only the final ratio differs.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    common = _pair_overlap_stats(sets, id_col)
    cont = F.greatest(
        F.col("n_common") / F.col("size_a"),
        F.col("n_common") / F.col("size_b"),
    )
    return (
        common.withColumn("containment", F.round(cont, _ROUND_DIGITS))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def containment_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT containment pairs (same output as ``containment_pairs``) via
    prefix-filtered probing — the scale path.

    The inverted-index formulation pairs every posting list all-vs-all:
    one boilerplate shingle shared by 10^5 docs is 5×10^9 candidate
    pairs. The prefix-filter fix follows the SSJoin/PPJoin family,
    specialized to the asymmetric overlap bound of containment
    ``max(c/|A|, c/|B|) ≥ t  ⇔  c ≥ ⌈t·min(|A|,|B|)⌉``:

    1. Hash-order every document's shingle set by a global rarest-first
       key ``(doc_frequency, hash)``.
    2. The SMALLER set S of a qualifying pair has only ``⌈t·|S|⌉ − 1``
       elements outside its first ``|S| − ⌈t·|S|⌉ + 1`` (its *prefix*),
       fewer than the required overlap — so some shared element falls in
       S's prefix. The partner's matching element can sit anywhere, so
       candidates come from PREFIX postings probed against the FULL
       index, restricted to probe-side size ≤ partner size (the larger
       side of the pair is found when the smaller side probes).
    3. Candidates verify exactly with ``array_intersect`` on the full
       sorted hash sets.

    Rarest-first ordering pushes hot shingles out of prefixes, so a hot
    posting list is probed only by the few documents composed almost
    entirely of boilerplate — candidate cost collapses from
    Σ c·(c−1)/2 to Σ (prefix owners)·c, linear in each posting list.
    Containment admits no size-ratio filter (a tiny doc may be contained
    in an arbitrarily large one), which is exactly why the asymmetric
    prefix bound matters.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    sets = shingle_sets(df, id_col, text_col, n)
    # feeds the frequency agg, prefix postings, full index, and both
    # verification sides — persist instead of re-shingling the corpus
    hashed = sets.select(
        F.col(id_col),
        "set_size",
        F.array_sort(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("_sh_set"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = hashed.select(id_col, "set_size", F.explode("_sh_set").alias("_sh"))
    freq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    # the final filter compares round(containment, _ROUND_DIGITS) >= t,
    # admitting true containment down to t − 0.5·10^-digits — derive the
    # prefix bound from the relaxed threshold so no such pair is pruned
    t_relaxed = threshold - 10.0 ** (-_ROUND_DIGITS)
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(t_relaxed) * F.col("set_size")).cast("int")
        + F.lit(1)
    )
    w = Window.partitionBy(id_col).orderBy("_df", "_sh")
    prefix = (
        ex.join(freq, "_sh")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= prefix_len)
        .select(
            F.col(id_col).alias("_pid"),
            F.col("set_size").alias("_psz"),
            "_sh",
        )
    )
    full = ex.select(
        F.col(id_col).alias("_fid"), F.col("set_size").alias("_fsz"), "_sh"
    )
    cand = (
        prefix.join(full, "_sh")
        .filter(F.col("_pid") != F.col("_fid"))
        .filter(F.col("_psz") <= F.col("_fsz"))
        .select(
            F.least("_pid", "_fid").alias("id_a"),
            F.greatest("_pid", "_fid").alias("id_b"),
        )
        .distinct()
    )
    ver = cand.join(
        hashed.select(
            F.col(id_col).alias("id_a"),
            F.col("_sh_set").alias("_sa"),
            F.col("set_size").alias("size_a"),
        ),
        "id_a",
    ).join(
        hashed.select(
            F.col(id_col).alias("id_b"),
            F.col("_sh_set").alias("_sb"),
            F.col("set_size").alias("size_b"),
        ),
        "id_b",
    )
    # bigint to match the counting formulation (F.size yields int)
    n_common = F.size(F.array_intersect("_sa", "_sb")).cast("bigint")
    cont = F.greatest(
        F.col("n_common") / F.col("size_a"),
        F.col("n_common") / F.col("size_b"),
    )
    return (
        ver.withColumn("n_common", n_common)
        .withColumn("containment", F.round(cont, _ROUND_DIGITS))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "containment")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All document pairs (id_a < id_b) with shingle-Jaccard ≥ threshold —
    EXACT (same output as ``ngram_jaccard_pairs``), via prefix filtering.

    The inverted-index formulation generates Σ_shingle c·(c−1)/2 candidate
    pairs — quadratic in the posting-list length of hot boilerplate
    shingles, which is what blows up on a real corpus. Prefix filtering
    (the SSJoin/PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08) is the published exact fix:

    1. Order every document's shingle-hash set by a GLOBAL rarest-first
       key ``(doc_frequency, hash)``.
    2. A pair with ``J(a,b) ≥ t`` must share ≥ ``⌈t·|s|⌉`` elements with
       any partner, so it must collide inside each set's first
       ``|s| − ⌈t·|s|⌉ + 1`` elements (the *prefix*) — candidates are
       generated from prefix postings only. Rarest-first ordering pushes
       hot shingles OUT of prefixes, collapsing the quadratic term.
    3. Candidates pass the size filter ``t·|a| ≤ |b| ≤ |a|/t`` (a pair
       violating it cannot reach t), then are verified exactly with
       ``array_intersect`` on the full sorted hash sets.

    Extra linear costs vs the inverted index: one doc-frequency
    aggregation, one join of the exploded shingles against it, one
    per-doc window rank, and the two verification joins (candidate side
    is small after filtering; AQE broadcasts it). Worth it exactly when
    posting lists are skewed — i.e. on any real corpus.

    The hashed shingle-set relation feeds FOUR consumers (frequency agg,
    prefix postings, and both verification sides), so it is persisted
    (MEMORY_AND_DISK) — measured ~1.5-2× end-to-end at sf0.1, and at
    corpus scale it avoids re-running the regex/shingle pipeline four
    times over the raw text. No explicit unpersist: the returned plan is
    lazy, and Spark's ContextCleaner drops the block once the caller's
    references are gone.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    sets = shingle_sets(df, id_col, text_col, n)
    hashed = sets.select(
        F.col(id_col),
        "set_size",
        F.array_sort(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("_sh_set"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = hashed.select(id_col, "set_size", F.explode("_sh_set").alias("_sh"))
    freq = ex.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
    # The final filter compares round(J, _ROUND_DIGITS) >= threshold
    # (matching the inverted-index formulation), which admits true J down
    # to threshold - 0.5*10^-digits; derive prefix lengths and the size
    # filter from a threshold relaxed past that boundary so no such pair
    # is pruned before exact verification.
    t_relaxed = threshold - 10.0 ** (-_ROUND_DIGITS)
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(t_relaxed) * F.col("set_size")).cast("int")
        + F.lit(1)
    )
    w = Window.partitionBy(id_col).orderBy("_df", "_sh")
    prefix = (
        ex.join(freq, "_sh")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= prefix_len)
    )
    cand = (
        pair_up(prefix, ["_sh"], [id_col, "set_size"])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .filter(
            F.least("size_a", "size_b")
            >= F.lit(t_relaxed) * F.greatest("size_a", "size_b")
        )
        .distinct()
    )
    ver = cand.join(
        hashed.select(F.col(id_col).alias("id_a"), F.col("_sh_set").alias("_sa")),
        "id_a",
    ).join(
        hashed.select(F.col(id_col).alias("id_b"), F.col("_sh_set").alias("_sb")),
        "id_b",
    )
    # bigint to match the counting formulation (F.size yields int)
    n_common = F.size(F.array_intersect("_sa", "_sb")).cast("bigint")
    scored = ver.withColumn("n_common", n_common).withColumn(
        "jaccard",
        F.round(
            F.col("n_common")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
            _ROUND_DIGITS,
        ),
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_common", "jaccard"
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """ExactSubstr-style duplicate-span statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for every
    document, how much of it is covered by k-token windows that appear
    MORE THAN ONCE anywhere in the corpus — the repeated-span signal that
    document-level (exact/MinHash) dedup cannot see, because boilerplate
    fragments hide inside otherwise-unique documents.

    The suffix-array formulation of the paper is replaced by the
    distributed-friendly rolling-window equivalent: every k-token window
    hashes to 16 bytes (md5), a window is duplicated iff its hash occurs
    ≥ 2 times corpus-wide (one map-side-combining groupBy), and each
    document's duplicated windows merge into maximal spans with two
    window functions — span starts where the position gap exceeds k,
    and the union size telescopes as Σ min(k, next_pos − pos). Returns
    one row per document: n_tokens, n_dup_windows, n_spans,
    covered_tokens, and dup_coverage_ppm (floor(coverage·10⁶) — integer,
    so cross-engine comparison is exact).

    Scale: one explode (n_tokens windows/doc), one groupBy on the hash,
    one semi-join, per-doc windows — no pair generation at all, so there
    is no quadratic term anywhere; this is strictly cheaper than any
    near-dup join and is the right first pass on a 100 TB corpus.
    """
    from pyspark.sql import Window

    from .text import tokens

    base = _spread(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).withColumn("n_tokens", F.size("_toks"))
    n_win = F.greatest(F.col("n_tokens") - (k - 1), F.lit(0))
    grams = base.select(
        id_col,
        F.explode(
            F.when(
                n_win >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_win),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(
                            F.array_join(F.slice("_toks", i, k), " ")
                        ).alias("h"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,h:string>>")
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    dup = grams.groupBy("h").agg(F.count(F.lit(1)).alias("_c")).filter(
        F.col("_c") >= 2
    )
    dpos = grams.join(dup.select("h"), "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    marked = dpos.select(
        id_col,
        "pos",
        F.lag("pos").over(w).alias("_prev"),
        F.lead("pos").over(w).alias("_nxt"),
    )
    per = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.sum(
            (
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k)
            ).cast("long")
        ).alias("n_spans"),
        F.sum(
            F.least(
                F.lit(k),
                F.coalesce(F.col("_nxt") - F.col("pos"), F.lit(k)),
            )
        ).alias("covered_tokens"),
    )
    joined = base.select(id_col, "n_tokens").join(per, id_col, "left")
    cov = F.coalesce(F.col("covered_tokens"), F.lit(0))
    return joined.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0))
        .cast("long")
        .alias("n_dup_windows"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        cov.cast("long").alias("covered_tokens"),
        # integer div, not floor(double /): all operands positive, so
        # Spark DIV and DuckDB // agree exactly with no float in the loop
        F.when(
            F.col("n_tokens") > 0,
            (cov * 1_000_000).cast("long") - (
                (cov * 1_000_000).cast("long") % F.col("n_tokens")
            ),
        ).alias("_pre"),
    ).withColumn(
        "dup_coverage_ppm",
        F.when(F.col("n_tokens") > 0, F.col("_pre") / F.col("n_tokens"))
        .otherwise(F.lit(0))
        .cast("long"),
    ).drop("_pre")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _md5_long(keyed: Column) -> Column:
    """60-bit long from the first 15 hex chars of md5 — the DuckDB-
    replayable hash recipe (twin: ``('0x' || substring(md5(x),1,15))
    ::BIGINT``) shared by the winnowing/CMS/LSH oracle paths."""
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn: str = "xxhash64",
    shingles_col: str | None = None,
) -> DataFrame:
    """(id, array of num_hashes minhash values).

    minhash_i(doc) = min over shingles of hash(shingle, seed=i) —
    ``xxhash64`` (default, cheapest) or ``md5`` (row i keyed as
    md5(f"{i}:{shingle}"), bit-replayable in DuckDB so LSH contract
    queries built on it are fully value-checkable).
    Shaped as explode → num_hashes codegen'd hash projections → groupBy(id)
    with partial min aggregation: the hashes run vectorized in whole-stage
    codegen (a per-row higher-order-function fold is interpreted and ~10×
    slower), the mins combine map-side, and the single shuffle carries only
    (id, num_hashes longs) per document.

    Documents with no shingles (shorter than n words) have no signature —
    they cannot near-dup by construction.

    ``shingles_col``: derive the signature from an ALREADY-SHINGLED
    relation (e.g. the ``shingle_sets`` output, or the materialized sets
    parquet read back) instead of re-tokenizing ``text_col`` — the
    shingle basis is identical (``word_shingles`` output), so the
    signatures are bit-identical; only the redundant tokenize+shingle
    pass is skipped (guide §5.2: compute shared subtrees once).
    """
    if shingles_col is not None:
        exploded = df.select(
            F.col(id_col), F.explode(F.col(shingles_col)).alias("shingle")
        )
    else:
        exploded = _spread(df).select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
        )
    if hash_fn == "md5":
        hashes = [
            _md5_long(F.concat(F.lit(f"{i}:"), F.col("shingle"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    else:
        hashes = [
            F.xxhash64("shingle", F.lit(i)).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
    hashed = exploded.select(id_col, *hashes)
    mins = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("signature"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    observation=None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band bucket.

    band key = hash(band index, the band's slice of the signature); pairs
    come from the grouped-postings helper (``pair_up``) on (band, bucket)
    — the signature pipeline is evaluated once, and the 8-byte bucket
    keys are the O(n²)→O(candidates) reduction that makes near-dup
    feasible at 100 TB. ``max_bucket_size`` drops pathologically hot
    buckets (boilerplate that collapses a band) before pairing — see
    ``pair_up``.
    """
    bands = lsh_band_keys(
        signatures, id_col, num_bands * rows_per_band, num_bands, hash_fn=hash_fn
    )
    return (
        pair_up(
            bands,
            ["band", "bucket"],
            [id_col],
            max_bucket_size=max_bucket_size,
            observation=observation,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    observation=None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard.

    Verification joins the candidate PAIRS against per-doc shingle sets and
    intersects the two arrays per pair (``array_intersect``) — no shingle
    explode + self-join for the verify step, so its cost is strictly
    O(candidate pairs × shingles), independent of corpus size.
    ``max_bucket_size``/``observation`` forward to the band pair
    generator's hot-bucket guard (see ``pair_up``).
    """
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, hash_fn=hash_fn)
    # candidate pairs are consumed by two joins and are tiny relative to the
    # corpus — cache them instead of re-running the LSH join
    cands = lsh_candidate_pairs(
        sigs,
        id_col,
        num_bands,
        rows_per_band,
        max_bucket_size=max_bucket_size,
        observation=observation,
        hash_fn=hash_fn,
    ).cache()
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select("id_b"))
        .distinct()
    )
    sets = shingle_sets(
        df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, n
    )
    a = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("_sh_a"),
        F.col("set_size").alias("_sz_a"),
    )
    b = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("_sh_b"),
        F.col("set_size").alias("_sz_b"),
    )
    paired = cands.join(a, on="id_a").join(b, on="id_b")
    n_common = F.size(F.array_intersect("_sh_a", "_sh_b"))
    jac = F.round(
        n_common / (F.col("_sz_a") + F.col("_sz_b") - n_common), _ROUND_DIGITS
    )
    return (
        paired.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs → components → canonical survivors
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``; cluster_id = min node
    id in the node's connected component.

    Near-dup pairs only say "these two match"; deduplication needs the
    transitive closure (A≈B, B≈C ⇒ drop two of {A,B,C}).

    Two strategies, picked by EDGE COUNT (the same runtime-size decision
    AQE makes for broadcast joins):

    - **small edge set → driver union-find.** After LSH/Jaccard filtering
      the match-pair list is orders of magnitude smaller than the corpus;
      a union-find over ≤``driver_max_edges`` edges is a few hundred MB
      and milliseconds of CPU, versus ~5 distributed jobs PER ROUND of
      label propagation. Collecting a bounded, already-reduced edge list
      is the same pattern as broadcasting a small join side — it is not a
      driver-side loop over the corpus.
    - **large edge set → iterative min-label propagation**, all DataFrame
      ops: each round every node takes the min of its own and its
      neighbors' labels (one shuffle, partial min map-side) plus a
      pointer-jump through its current label's label (near-logarithmic
      rounds instead of O(diameter)); lineage is truncated per round with
      ``localCheckpoint``; the edge list is cached once; converges when a
      round changes nothing (labels decrease monotonically, so a fixed
      point is global).
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).cache()
    n_edges = fwd.limit(driver_max_edges + 1).count()
    if n_edges <= driver_max_edges:
        spark = pairs.sparkSession
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for src, dst in fwd.collect():
            if src not in parent:
                parent[src] = src
            if dst not in parent:
                parent[dst] = dst
            ra, rb = find(src), find(dst)
            if ra != rb:
                # union by min id keeps roots = component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(node, find(node)) for node in parent]
        schema = fwd.select(
            F.col("src").alias("node"), F.col("src").alias("cluster_id")
        ).schema
        fwd.unpersist()
        return spark.createDataFrame(rows, schema)
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().cache()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("_nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("_nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
        # pointer jump: cluster_id ← its own current cluster_id (labels are
        # always node ids, so the self-join is total)
        parent = stepped.select(
            F.col("node").alias("_pnode"), F.col("cluster_id").alias("_plabel")
        )
        jumped = (
            stepped.join(parent, stepped["cluster_id"] == parent["_pnode"])
            .select("node", F.least("cluster_id", "_plabel").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
        )
        labels = jumped
        if changed.isEmpty():
            break
    edges.unpersist()
    fwd.unpersist()
    return labels


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Apply a near-dup pair set to ``df``: keep the smallest-id document of
    every connected component, drop the rest (anti-join on the loser list).

    The loser list is tiny relative to the corpus (only near-dup members),
    so the anti-join broadcasts; rows never touched by a pair pass through
    untouched without shuffling the full table.
    """
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(F.broadcast(losers), on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: Signed-long bit masks for bits 0..63 (bit 63 = the sign bit).
_BIT_MASKS = [(1 << j) if j < 63 else -(1 << 63) for j in range(64)]


def _md5_long64(keyed: Column) -> Column:
    """Full 64-bit signed long from md5 hex chars [1,8] (high 32 bits)
    and [9,16] (low 32 bits), assembled two's-complement so every bit of
    the result is a digest bit. DuckDB twin works on the two unsigned
    32-bit halves directly (no signed shifts needed):
    ``hi = ('0x'||substring(md5(x),1,8))::BIGINT``, same for ``lo`` at
    offset 9; bit j of this value = lo>>j (j<32) / hi>>(j-32) (j≥32)."""
    digest = F.md5(keyed)
    hi = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
    signed_hi = F.when(hi >= F.lit(1 << 31), hi - F.lit(1 << 32)).otherwise(hi)
    return signed_hi * F.lit(1 << 32) + lo


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document from shingle hashes.

    bit_j(doc) = 1 iff sum over shingles of sign(bit_j(hash(shingle))) > 0.
    Formulated as explode → groupBy(id) with 64 map-side-combinable sums:
    exactly one shuffle keyed by document id, partial aggregation upstream —
    the shape that survives a 100 TB corpus (vs. a per-row 64-pass array
    fold, which blows up expression size). ``hash_fn='md5'`` derives the
    shingle hash from an md5 digest (``_md5_long64``) so the whole
    signature is DuckDB-replayable.
    """
    shingle_hash = (
        _md5_long64(F.col("shingle"))
        if hash_fn == "md5"
        else F.xxhash64("shingle")
    )
    exploded = _spread(df).select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    ).select(id_col, shingle_hash.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1)
        ).alias(f"_c{j}")
        for j, mask in enumerate(_BIT_MASKS)
    ]
    counts = exploded.groupBy(id_col).agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for j, mask in enumerate(_BIT_MASKS):
        sig = sig.bitwiseOR(
            F.when(F.col(f"_c{j}") > 0, F.lit(mask)).otherwise(F.lit(0).cast("long"))
        )
    return counts.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n: int = 2,
    max_bucket_size: int | None = None,
    observation=None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with Hamming distance ≤ max_hamming between SimHashes.

    Banding: split the 64-bit signature into 4 16-bit blocks; any pair
    within Hamming ≤ 3 shares at least one exact block (pigeonhole), so
    pairing happens per block bucket (``pair_up``), never all pairs.
    ``max_bucket_size`` drops degenerate blocks (e.g. the all-zeros block
    every near-empty doc shares) before pairing, with drop counts
    readable from ``observation`` — see ``pair_up``.
    """
    sigs = simhash(df, id_col, text_col, n, hash_fn=hash_fn)
    blocks = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("block"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", "bb.block_idx", "bb.block")
    pairs = (
        pair_up(
            blocks,
            ["block_idx", "block"],
            [id_col, "simhash"],
            max_bucket_size=max_bucket_size,
            observation=observation,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: materialized LSH index + incoming-batch matching
# ---------------------------------------------------------------------------


def lsh_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    num_bands: int = 8,
    id_alias: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) band postings for MinHash signatures — the
    shared banding step of the batch LSH join, the materialized index,
    and incoming-batch probing (one definition so the band hash can
    never drift between writer and prober). ``hash_fn='md5'`` keys the
    bucket as md5 of the comma-joined band slice (DuckDB-replayable)."""
    rows_per_band = num_hashes // num_bands
    out_id = id_alias or id_col
    bucket_hash = _md5_long if hash_fn == "md5" else F.xxhash64
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bucket_hash(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(
                                        "signature", b * rows_per_band + r + 1
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bucket")


def materialize_lsh_index(
    df: DataFrame,
    index_path: str,
    sets_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
) -> None:
    """Persist the corpus' dedup state once: the LSH band index
    ``(id, band, bucket)`` partitioned by band (a probe touches only its
    band partitions) and the per-doc shingle sets used for exact
    verification. This is what turns near-dup detection from a
    corpus×corpus batch job into an incremental ``incoming × candidates``
    lookup — the production shape for deduping a continuous crawl
    against a 100 TB corpus without ever rescanning it.

    Round-8 shape: the corpus is tokenized+shingled ONCE — the sets
    relation is written first and the signatures derive from the
    written parquet read back (the job's own output within the same
    invocation, the standard materialize-then-derive chain), instead of
    two independent full shingle passes (guide §5.2). The band index is
    repartitioned by ``band`` before the partitioned write so each band
    directory gets coherent files instead of one sliver per upstream
    task (guide §6.2 output sizing; shuffle parallelism keeps the write
    parallel at scale). Signatures are bit-identical: the stored
    ``shingles`` column IS the ``word_shingles`` output the previous
    formulation exploded.
    """
    sets = shingle_sets(df, id_col, text_col, n)
    sets.write.mode("overwrite").parquet(sets_path)
    stored = df.sparkSession.read.parquet(sets_path)
    sigs = minhash_signatures(
        stored, id_col, text_col, n, num_hashes, shingles_col="shingles"
    )
    bands = lsh_band_keys(sigs, id_col, num_hashes, num_bands)
    bands.repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(index_path)


def dedup_incoming(
    spark,
    new_docs: DataFrame,
    index_path: str,
    sets_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Match an incoming batch against the materialized corpus index:
    signatures + band keys for the (small) incoming side, broadcast-join
    them against the stored band index — only colliding corpus rows
    leave the scan — then verify candidates exactly against the stored
    shingle sets. Returns ``(new_id, corpus_id, jaccard)`` with exact
    ``jaccard >= threshold``: precision is exact by construction, recall
    is the LSH band guarantee.

    Cost scales with the INCOMING batch and its collisions, never the
    corpus: the corpus-side relations are scanned with the broadcast
    band/candidate filters applied, not rebuilt.
    """
    # The incoming batch is tokenized+shingled ONCE (round 8): sets
    # first (persisted — the batch is small by the operator's contract),
    # signatures derived from the shingle arrays (bit-identical basis).
    from pyspark import StorageLevel

    raw_sets = shingle_sets(new_docs, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(
        raw_sets, id_col, text_col, n, num_hashes, shingles_col="shingles"
    )
    new_bands = lsh_band_keys(
        sigs, id_col, num_hashes, num_bands, id_alias="new_id"
    )
    index = spark.read.parquet(index_path)
    cands = (
        index.join(F.broadcast(new_bands), ["band", "bucket"])
        .select("new_id", F.col(id_col).alias("corpus_id"))
        .distinct()
    )
    corpus_sets = spark.read.parquet(sets_path)
    new_sets = raw_sets.select(
        F.col(id_col).alias("new_id"),
        F.col("shingles").alias("_sh_n"),
        F.col("set_size").alias("_sz_n"),
    )
    # corpus_sets is the probe (big, streamed) side; the incoming
    # candidates+sets relation is the explicit broadcast build side —
    # the corpus never shuffles (guide §3.1).
    paired = corpus_sets.select(
        F.col(id_col).alias("corpus_id"),
        F.col("shingles").alias("_sh_c"),
        F.col("set_size").alias("_sz_c"),
    ).join(F.broadcast(cands.join(F.broadcast(new_sets), "new_id")), "corpus_id")
    n_common = F.size(F.array_intersect("_sh_n", "_sh_c"))
    jac = F.round(
        n_common / (F.col("_sz_n") + F.col("_sz_c") - n_common), _ROUND_DIGITS
    )
    return (
        paired.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
