"""LLM-pipeline operators: dedup recall, similarity recall, text analysis."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_weather_system_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from bigdata_weather_system_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from bigdata_weather_system_spark.operators.text import (
    language_id,
    quality_score,
    tokens,
)
from bigdata_weather_system_spark.sources.tables import load_table

from conftest import TEST_SF_DIR


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = load_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "hello  world"), (1, "Hello World"), (2, "unique doc")],
        "doc_id long, text string",
    )
    out = sorted(r.doc_id for r in exact_dedup(df).collect())
    # normalization folds case+whitespace → ids 1 and 2 survive
    assert out == [1, 2]


def test_pair_up_hot_bucket_cap(spark):
    """A synthetic hot bucket (one bucket shared by many rows) must be
    dropped by max_bucket_size — and the drop must be visible through the
    Observation — while normal buckets pair as before."""
    from pyspark.sql import Observation

    from bigdata_weather_system_spark.operators.dedup import pair_up

    rows = [("hot", i) for i in range(50)] + [("cold", 100), ("cold", 101)]
    df = spark.createDataFrame(rows, "bucket string, doc_id long")

    obs = Observation("pair_up_drops")
    pairs = pair_up(
        df, ["bucket"], ["doc_id"], max_bucket_size=10, observation=obs
    )
    got = sorted((r.a.doc_id, r.b.doc_id) for r in pairs.collect())
    # hot bucket (50 > 10) contributes nothing; cold pairs normally
    assert got == [(100, 101)]
    assert obs.get["dropped_buckets"] == 1
    assert obs.get["dropped_rows"] == 50

    # no cap → unchanged quadratic behavior (50*49/2 + 1 pairs)
    n_uncapped = pair_up(df, ["bucket"], ["doc_id"]).count()
    assert n_uncapped == 50 * 49 // 2 + 1


def test_minhash_cap_drops_hot_band_pairs(docs):
    """Capping LSH buckets can only shrink the candidate set, and a cap of
    1 removes every pair."""
    all_pairs = minhash_dedup_pairs(docs, threshold=0.5).count()
    capped = minhash_dedup_pairs(docs, threshold=0.5, max_bucket_size=1).count()
    assert capped == 0
    assert all_pairs >= 0


def test_minhash_recall_vs_exact(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    mh = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(docs, threshold=0.5).collect()}
    assert exact, "test data should contain near-dup clusters"
    # every minhash pair is verified → subset of exact
    assert mh <= exact
    # recall: near-identical docs (J≈0.99) must essentially all be caught
    recall = len(mh) / len(exact)
    assert recall >= 0.8, f"minhash recall too low: {recall} ({len(mh)}/{len(exact)})"


def test_prefix_filter_pairs_equal_inverted_index(docs):
    """Prefix filtering is an EXACT algorithm — its full (id_a, id_b,
    n_common, jaccard) output must be row-identical to the inverted-index
    formulation, not merely a high-recall subset."""
    from bigdata_weather_system_spark.operators.dedup import jaccard_pairs_prefix

    exact = sorted(map(tuple, ngram_jaccard_pairs(docs, threshold=0.5).collect()))
    pref = sorted(map(tuple, jaccard_pairs_prefix(docs, threshold=0.5).collect()))
    assert exact, "test data should contain near-dup clusters"
    assert pref == exact


def test_simhash_finds_near_identical(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    sh = {(r.id_a, r.id_b) for r in simhash_near_pairs(docs, max_hamming=3).collect()}
    assert exact
    overlap = len(sh & exact) / len(exact)
    assert overlap >= 0.5, f"simhash catches too few near-identicals: {overlap}"


def test_cosine_topk_shapes(emb):
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_bruteforce(emb, q, k=10).collect()
    assert len(out) == 50
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.cosine_sim)
    for sims in by_q.values():
        assert sims == sorted(sims, reverse=True)
        assert all(-1.0001 <= s <= 1.0001 for s in sims)


def test_lsh_topk_is_subset_with_decent_recall(emb):
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, q, k=10, n_planes=4).collect()
    }
    # LSH candidates come from the same scoring → any overlap pair must agree;
    # recall against exact top-10 should be nontrivial with 4 planes
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.2, f"lsh recall too low: {recall}"


def test_language_id_scores_and_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of a house"), (2, "xyz qrs")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in language_id(df).collect()}
    assert out[1].predicted_lang == "en"
    assert out[1].score_en >= 4
    # all-zero scores → alphabetical tie-break picks 'de'
    assert out[2].predicted_lang == "de"


def test_quality_score_ranges(docs):
    rows = quality_score(docs).select("quality_score").collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)


def test_tokens_drop_empties(spark):
    df = spark.createDataFrame([(1, "  a  b   c ")], "id long, text string")
    out = df.select(tokens(F.col("text")).alias("t")).collect()[0].t
    assert out == ["a", "b", "c"]


def test_ivf_topk_recall_beats_floor(emb):
    from bigdata_weather_system_spark.operators.similarity import cosine_topk_ivf

    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    approx_rows = cosine_topk_ivf(emb, q, k=10, n_cells=16, n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.2, f"ivf recall too low: {recall}"
    # per-query output is capped at k and sorted desc
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r.query_id, []).append(r.cosine_sim)
    for sims in by_q.values():
        assert len(sims) <= 10
        assert sims == sorted(sims, reverse=True)


def test_kmeans_refine_improves_objective_and_recall_floor(emb):
    """Spherical k-means: the mean cosine of each vector to its assigned
    (unit) centroid must not decrease over Lloyd's rounds, and the refined
    IVF index must still clear the recall floor."""
    import numpy as np

    from bigdata_weather_system_spark.operators.similarity import (
        cosine_topk_ivf,
        ivf_centroids,
        kmeans_refine,
    )

    vecs = np.vstack(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.select("embedding").collect()]
    )
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def objective(cents):
        c = np.asarray(cents, dtype=np.float64)
        cu = c / np.linalg.norm(c, axis=1, keepdims=True)
        return float((vn @ cu.T).max(axis=1).mean())

    seeds = ivf_centroids(emb, n_cells=8, seed=7)
    obj = [objective(seeds)]
    cents = seeds
    for _ in range(3):
        cents = kmeans_refine(emb, cents, iters=1)
        obj.append(objective(cents))
    assert all(b >= a - 1e-9 for a, b in zip(obj, obj[1:])), obj
    assert obj[-1] > obj[0], f"refinement should tighten cells: {obj}"

    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=10).collect()
    }
    refined = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivf(
            emb, q, k=10, n_cells=16, n_probe=4, refine_iters=2
        ).collect()
    }
    recall = len(refined & exact) / len(exact)
    assert recall >= 0.2, f"refined ivf recall too low: {recall}"


def test_ivf_centroids_deterministic(emb):
    from bigdata_weather_system_spark.operators.similarity import ivf_centroids

    a = ivf_centroids(emb, n_cells=8, seed=7)
    b = ivf_centroids(emb, n_cells=8, seed=7)
    assert a == b and len(a) == 8


def test_rolling_hash_known_values(spark):
    from pyspark.sql import Row
    from bigdata_weather_system_spark.operators.text import rolling_hash

    df = spark.createDataFrame([Row(t="abc"), Row(t=""), Row(t="aab")])
    out = {r.t: r.h for r in df.select("t", rolling_hash(F.col("t")).alias("h")).collect()}
    # base-31 polynomial == Java String.hashCode for short ASCII (mod 2^31-1)
    assert out["abc"] == 96354
    assert out[""] == 0
    assert out["aab"] == ord("a") * 31 * 31 + ord("a") * 31 + ord("b")


def test_bpe_ish_token_count_pinned(spark):
    from pyspark.sql import Row
    from bigdata_weather_system_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    df = spark.createDataFrame([Row(t="Hello, world! 42 tokens?")])
    r = df.select(
        token_count(F.col("t")).alias("ws"),
        bpe_ish_token_count(F.col("t")).alias("bpe"),
    ).collect()[0]
    assert r.ws == 4
    # hello | , | world | ! | 42 | tokens | ?  → punctuation runs split out
    assert r.bpe == 7


def test_winnowing_guarantee_and_degenerate_inputs(spark):
    """Winnowing guarantee: any shared substring of length >= k+window-1
    (here 8) between two texts yields at least one shared fingerprint;
    texts shorter than k produce an empty set (not a crash)."""
    from pyspark.sql import Row
    from bigdata_weather_system_spark.operators.text import winnow_fingerprints

    fp = lambda df: {
        r[0]
        for r in df.select(
            F.explode(winnow_fingerprints(F.col("t"), k=5, window=4))
        ).collect()
    }
    common = "the quick brown fox jumps"
    a = fp(spark.createDataFrame([Row(t=f"XXXX {common} YYYY")]))
    b = fp(spark.createDataFrame([Row(t=f"ZZ {common} WW")]))
    assert a & b, "shared 25-char substring must share a fingerprint"

    degenerate = spark.createDataFrame([Row(t=""), Row(t="abc"), Row(t="abcd")])
    out = degenerate.select(
        F.size(winnow_fingerprints(F.col("t"), k=5, window=4)).alias("n")
    ).collect()
    assert [r.n for r in out] == [0, 0, 0]

    # determinism + density: selected set is stable and much smaller than
    # the full k-gram hash set
    long_text = spark.createDataFrame([Row(t="abcdefghij" * 30)])
    n1 = long_text.select(F.size(winnow_fingerprints(F.col("t"))).alias("n")).collect()[0].n
    n2 = long_text.select(F.size(winnow_fingerprints(F.col("t"))).alias("n")).collect()[0].n
    assert n1 == n2
    assert 0 < n1 < 300 - 4  # far fewer fingerprints than k-grams


def test_pandas_udf_cosine_matches_fold_cosine(emb):
    """The Arrow/numpy scoring path (wide-vector fast path) must agree with
    the codegen'd fold cosine to float tolerance."""
    from bigdata_weather_system_spark.operators.similarity import (
        cosine,
        cosine_scores_pandas_udf,
    )

    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    qvec = [float(x) for x in qrow.embedding]
    corpus = emb.filter(F.col("vec_id") < 50)

    udf_scores = {
        r.vec_id: r.cosine_sim
        for r in cosine_scores_pandas_udf(corpus, qvec).collect()
    }
    qlit = F.array(*[F.lit(x) for x in qvec])
    fold_scores = {
        r.vec_id: r.sim
        for r in corpus.select(
            "vec_id", cosine(qlit, F.col("embedding")).alias("sim")
        ).collect()
    }
    assert set(udf_scores) == set(fold_scores)
    for vid, s in fold_scores.items():
        assert abs(udf_scores[vid] - s) < 1e-9, (vid, udf_scores[vid], s)


def test_connected_components_chain_and_canonical_keep(spark):
    from bigdata_weather_system_spark.operators.dedup import (
        connected_components,
        keep_canonical,
    )

    # chain 1-2-3-4 (transitive, no direct 1-4 edge), island pair 10-11,
    # and long path 20..25 to exercise pointer jumping across rounds
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)]
        + [(i, i + 1) for i in range(20, 25)],
        ["id_a", "id_b"],
    )
    cc = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {
        **{n: 1 for n in (1, 2, 3, 4)},
        **{n: 10 for n in (10, 11)},
        **{n: 20 for n in range(20, 26)},
    }

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 5, 10, 11, 99]],
        ["doc_id", "text"],
    )
    kept = sorted(
        r.doc_id
        for r in keep_canonical(
            docs, pairs.filter(F.col("id_a") < 20), "doc_id"
        ).collect()
    )
    # one survivor per cluster (min id), untouched docs pass through
    assert kept == [1, 5, 10, 99]


def test_word_shingles_short_and_empty_texts(spark):
    from bigdata_weather_system_spark.operators.text import word_shingles

    df = spark.createDataFrame(
        [(1, "only two"), (2, "a b c d"), (3, ""), (4, "   ")], ["id", "t"]
    )
    got = {
        r.id: r.sh
        for r in df.select("id", word_shingles(F.col("t"), 3).alias("sh")).collect()
    }
    assert got == {1: [], 2: ["a b c", "b c d"], 3: [], 4: []}

    # shingle-consuming operators survive short docs end-to-end
    docs = spark.createDataFrame(
        [(1, "x"), (2, "a b c d e"), (3, "a b c d e")], ["doc_id", "text"]
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(2, 3)]


def test_hll_rollup_matches_exact_within_tolerance(spark):
    """Union-of-daily-sketches estimate must track the exact distinct count
    (HLL standard error ~1.6% at default lgK; allow 5%). The contract
    query embeds the check as a within_5pct boolean — all groups must
    pass, and its exact counts must match a direct recomputation."""
    from bigdata_weather_system_spark import contract

    sf = TEST_SF_DIR
    rows = {
        r.event_type: r
        for r in contract.QUERIES["hll_distinct_users_rollup"](spark, sf).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .collect()
    }
    assert set(rows) == set(exact)
    for et, n in exact.items():
        assert rows[et].n_users_exact == n, et
        assert rows[et].within_5pct, (et, rows[et])


def test_kll_quantiles_match_exact_within_tolerance(spark):
    """KLL guarantees RANK accuracy (±eps of the requested rank), not value
    accuracy — the contract query embeds that as in-band booleans (sketch
    quantile inside the exact-value band of q ± 0.05). All groups must
    pass, and the exact percentiles must match a direct recomputation."""
    from bigdata_weather_system_spark import contract

    sf = TEST_SF_DIR
    sk = {
        r.event_type: r
        for r in contract.QUERIES["kll_value_quantiles"](spark, sf).collect()
    }
    exact = {
        r.event_type: r
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.median("value"), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.90)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .collect()
    }
    assert set(sk) == set(exact)
    for et, e in exact.items():
        assert sk[et].p50_exact == e.p50, et
        assert sk[et].p90_exact == e.p90, et
        assert sk[et].p99_exact == e.p99, et
        assert sk[et].p50_in_band and sk[et].p90_in_band and sk[et].p99_in_band, (
            et,
            sk[et],
        )


def test_ivf_index_partition_pruned_and_matches_inline(spark, tmp_path):
    """Materialized IVF index: results must equal the inline IVF variant,
    and the index scan must be partition-pruned to the probe cells
    (dynamic partition pruning from the broadcast probe join)."""
    from bigdata_weather_system_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
        materialize_ivf_index,
    )

    emb = load_table(spark, TEST_SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf_index")
    cents = materialize_ivf_index(emb, path, n_cells=16)

    indexed = cosine_topk_ivf_indexed(spark, path, q, cents, k=10, n_probe=4)
    inline = cosine_topk_ivf(emb, q, k=10, n_cells=16, n_probe=4)
    got = {(r.query_id, r.neighbor_id, r.cosine_sim) for r in indexed.collect()}
    want = {(r.query_id, r.neighbor_id, r.cosine_sim) for r in inline.collect()}
    assert got == want

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(cell" in plan


def test_kmeans_refine_monotone_on_non_unit_norm_corpus(spark, emb):
    """The unit-mean update must keep the spherical objective monotone
    even when corpus norms vary wildly (a raw-vector mean would let
    large-norm outliers drag centroids)."""
    import numpy as np

    from bigdata_weather_system_spark.operators.similarity import (
        ivf_centroids,
        kmeans_refine,
    )

    scaled = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x * (1.0 + (F.col("vec_id") % 7).cast("double") * 13.0),
        ).alias("embedding"),
    )
    vecs = np.vstack(
        [
            np.asarray(r.embedding, dtype=np.float64)
            for r in scaled.select("embedding").collect()
        ]
    )
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def objective(cents):
        c = np.asarray(cents, dtype=np.float64)
        cu = c / np.linalg.norm(c, axis=1, keepdims=True)
        return float((vn @ cu.T).max(axis=1).mean())

    cents = ivf_centroids(scaled, n_cells=8, seed=7)
    obj = [objective(cents)]
    for _ in range(3):
        cents = kmeans_refine(scaled, cents, iters=1)
        obj.append(objective(cents))
    assert all(b >= a - 1e-9 for a, b in zip(obj, obj[1:])), obj


def test_pq_codebooks_encode_and_recall(spark, sf_dir):
    """PQ: codebook tensor shape, code range, and ADC+rerank recall
    against brute force on the test embeddings."""
    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        pq_encode,
        pq_train_codebooks,
    )
    from bigdata_weather_system_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cbs = pq_train_codebooks(e, m_sub=8, n_codes=16, iters=1)
    assert len(cbs) == 8 and all(len(cb) == 16 for cb in cbs)
    assert all(len(code) == 8 for cb in cbs for code in cb)  # 64/8 dims

    enc = pq_encode(e, cbs)
    row = enc.head()
    assert len(row.codes) == 8
    assert all(0 <= c < 16 for c in row.codes)
    assert enc.count() == e.count()

    q = e.filter(F.col("vec_id") < 10)
    approx = cosine_topk_pq(e, q, k=10, iters=1, rerank_factor=4)
    got = approx.collect()
    assert {r.query_id for r in got} == set(range(10))
    assert all(r.query_id != r.neighbor_id for r in got)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(e, q, k=10).collect()
    }
    hits = sum((r.query_id, r.neighbor_id) in exact for r in got)
    assert hits / len(exact) >= 0.15  # same floor the driver contract pins


def test_pq_query_side_guard(spark, sf_dir):
    """The driver-side ADC LUT build is bounded: a query side larger
    than max_queries raises with guidance instead of collecting an
    unbounded relation to the driver (a join-shaped caller passing 1M
    queries must fail fast, not OOM)."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.similarity import (
        cosine_topk_ivf_pq,
        cosine_topk_pq,
    )
    from bigdata_weather_system_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    for fn in (cosine_topk_pq, cosine_topk_ivf_pq):
        with pytest.raises(ValueError, match="max_queries"):
            fn(e, q, k=5, iters=1, max_queries=5)
    # at the limit exactly, the call still works
    got = cosine_topk_pq(e, q, k=5, iters=1, max_queries=10).collect()
    assert {r.query_id for r in got} == set(range(10))


def test_ivf_pq_prunes_cells_and_meets_recall_floor(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf_pq,
    )
    from bigdata_weather_system_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    got = cosine_topk_ivf_pq(
        e, q, k=10, n_cells=16, n_probe=4, iters=1
    ).collect()
    assert {r.query_id for r in got} == set(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(e, q, k=10).collect()
    }
    hits = sum((r.query_id, r.neighbor_id) in exact for r in got)
    assert hits / len(exact) >= 0.15
    # reported similarities are exact cosines (rerank), so every kept
    # neighbor that is also in the exact set has the same rounded score
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine_sim
        for r in cosine_topk_bruteforce(e, q, k=10).collect()
    }
    for r in got:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert r.cosine_sim == exact_scores[key]


def test_incremental_dedup_against_materialized_index(spark, sf_dir, tmp_path):
    """Build the LSH index once over the corpus, then match an incoming
    batch (near-copies + novel docs) without rescanning the corpus:
    near-copies must hit their source doc; novel docs must come back
    clean; precision is exact by construction."""
    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.dedup import (
        dedup_incoming,
        materialize_lsh_index,
    )
    from bigdata_weather_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "lsh_index")
    sets = str(tmp_path / "lsh_sets")
    materialize_lsh_index(docs, idx, sets)

    # incoming: 5 corpus docs with one appended token (near-dups) and
    # 5 synthetic novel docs that share no 3-gram with the corpus
    near = (
        docs.filter(F.col("doc_id") < 5)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        )
    )
    novel = spark.createDataFrame(
        [(2_000_000 + i,
          f"qqq{i} www{i} eee{i} rrr{i} ttt{i} yyy{i} uuu{i} iii{i}")
         for i in range(5)],
        "doc_id long, text string",
    )
    incoming = near.unionByName(novel)
    matches = dedup_incoming(spark, incoming, idx, sets).collect()

    hit_by_new = {}
    for m in matches:
        hit_by_new.setdefault(m.new_id, set()).add(m.corpus_id)
        assert m.jaccard >= 0.5  # exact verification
    for i in range(5):
        assert i in hit_by_new.get(1_000_000 + i, set()), (
            f"near-copy of doc {i} not matched"
        )
    assert not any(k >= 2_000_000 for k in hit_by_new), "novel doc matched"


def test_minhash_signatures_from_shingles_col_bit_identical(spark, sf_dir):
    """The round-8 single-shingle-pass materialize path derives MinHash
    signatures from the ``shingle_sets`` output (``shingles_col=``)
    instead of re-tokenizing text — the signatures must be BIT-IDENTICAL
    to the direct text path (same shingle basis, same hashes)."""
    from bigdata_weather_system_spark.operators.dedup import (
        minhash_signatures,
        shingle_sets,
    )
    from bigdata_weather_system_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = {
        r.doc_id: r.signature
        for r in minhash_signatures(docs, "doc_id", "text", 3, 16).collect()
    }
    via_sets = {
        r.doc_id: r.signature
        for r in minhash_signatures(
            shingle_sets(docs, "doc_id", "text", 3),
            "doc_id",
            "text",
            3,
            16,
            shingles_col="shingles",
        ).collect()
    }
    assert direct == via_sets


def test_containment_prefix_pairs_equal_inverted_index(docs, spark):
    """The containment prefix filter is EXACT — full (id_a, id_b,
    n_common, containment) output must be row-identical to the
    inverted-index formulation, on the corpus AND on a crafted
    short-inside-long case (where the asymmetric bound matters most)."""
    from bigdata_weather_system_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_prefix,
    )

    exact = sorted(map(tuple, containment_pairs(docs, threshold=0.8).collect()))
    pref = sorted(
        map(tuple, containment_pairs_prefix(docs, threshold=0.8).collect())
    )
    assert exact, "test data should contain containment pairs"
    assert pref == exact

    # short doc fully contained in a much longer one: Jaccard is tiny but
    # containment = 1.0; also a hot boilerplate shingle shared by all
    crafted = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lam mu nu xi omicron pi rho sigma tau"),
            (3, "unrelated words entirely here alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    e2 = sorted(
        map(tuple, containment_pairs(crafted, n=3, threshold=0.9).collect())
    )
    p2 = sorted(
        map(
            tuple,
            containment_pairs_prefix(crafted, n=3, threshold=0.9).collect(),
        )
    )
    assert (1, 2) in {(a, b) for a, b, *_ in e2}
    assert p2 == e2


def test_theil_sen_history_cap_is_enforced(spark, sf_dir, monkeypatch):
    """A power user with more events than the cap must contribute exactly
    cap*(cap-1)/2 pairs, not history²/2 — the round-2 'weak' fix. The cap
    is deterministic (md5-ordered), so two runs agree."""
    from bigdata_weather_system_spark.contract import cdc_ext

    monkeypatch.setattr(cdc_ext, "_THEIL_SEN_MAX_EVENTS", 10)
    out = {
        r.user_id: r.n_pairs
        for r in cdc_ext.theil_sen_trend_per_user(spark, sf_dir).collect()
    }
    # sf0.001 events: every user has >10 events, so every user must be
    # capped at exactly C(10,2) = 45 pairs (ties in x would reduce it;
    # timestamps are distinct per user in the synthetic data)
    assert out, "no users?"
    assert all(n <= 45 for n in out.values()), out
    again = {
        r.user_id: r.n_pairs
        for r in cdc_ext.theil_sen_trend_per_user(spark, sf_dir).collect()
    }
    assert out == again


def test_count_min_sketch_is_mergeable_and_never_undercounts(spark):
    """Cell-wise sum of two partition sketches must equal the sketch of
    the union (the mergeability contract), and every estimate bounds the
    true count from above."""
    from bigdata_weather_system_spark.operators.estimate import (
        cms_point_estimates,
        count_min_sketch,
    )

    rows = [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5 + [("d",)] * 1
    df = spark.createDataFrame(rows, "token string")
    half1 = spark.createDataFrame(rows[:38], "token string")
    half2 = spark.createDataFrame(rows[38:], "token string")

    full = count_min_sketch(df, "token", width=64, depth=3)
    merged = (
        count_min_sketch(half1, "token", width=64, depth=3)
        .unionByName(count_min_sketch(half2, "token", width=64, depth=3))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, merged.collect())
    )

    q = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("zzz",)],
                              "token string")
    est = {
        r.token: r.cms_estimate
        for r in cms_point_estimates(full, q, "token", width=64, depth=3)
        .collect()
    }
    truth = {"a": 50, "b": 20, "c": 5, "d": 1, "zzz": 0}
    for t, n in truth.items():
        assert est[t] >= n, (t, est[t], n)
        assert est[t] <= n + 76  # N=76 absolute ceiling


def _bpe_reference(words, n_merges):
    """Pure-Python BPE trainer (Sennrich et al. algorithm 1) — the test
    oracle for the distributed trainer."""
    seqs = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, c in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, n))
        ab = a + b
        for w, s in seqs.items():
            out, prev = [], None
            for sym in s:
                if prev is not None and prev == a and sym == b:
                    out.append(ab)
                    prev = None
                elif prev is not None:
                    out.append(prev)
                    prev = sym
                else:
                    prev = sym
            if prev is not None:
                out.append(prev)
            seqs[w] = out
    return merges


def test_bpe_train_matches_reference_on_classic_example(spark):
    from bigdata_weather_system_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(text,)], "text string")
    merges, _, _ = bpe_train(df, n_merges=6)
    ref = _bpe_reference({"low": 5, "lower": 2, "newest": 6, "widest": 3}, 6)
    assert [(a, b, n) for _, a, b, n in merges] == ref
    enc = bpe_encode(
        spark.createDataFrame([("newest lowest",)], "text string"), merges
    ).head()
    assert enc.bpe_tokens == ["n", "ewest", "low", "est"]


def test_bpe_train_matches_reference_on_testdata(spark, sf_dir):
    from collections import Counter

    from bigdata_weather_system_spark.operators.bpe import bpe_train
    from bigdata_weather_system_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(100).cache()
    merges, _, _ = bpe_train(d, "text", n_merges=5)
    words = Counter()
    for r in d.collect():
        words.update((r.text or "").lower().split())
    d.unpersist()
    ref = _bpe_reference(dict(words), 5)
    assert [(a, b, n) for _, a, b, n in merges] == ref


def test_bpe_corpus_vocab_join_equals_encode_fold(spark, sf_dir, docs):
    """The scalable corpus-encode shape (token explode + broadcast
    vocabulary join — what doc_bpe_encode_stats runs) must agree
    per-document with bpe_encode's rank-order merge fold: for corpus
    text every token IS a vocabulary word, and bpe_train already holds
    its final symbol sequence."""
    from bigdata_weather_system_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )
    from bigdata_weather_system_spark.operators.text import tokens

    merges, _, words = bpe_train(docs, "text", n_merges=8)
    fold = {
        r.doc_id: r.n
        for r in bpe_encode(docs, merges)
        .select("doc_id", F.size("bpe_tokens").alias("n"))
        .collect()
    }
    vocab = words.select("word", F.size("syms").alias("_n"))
    joined = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.explode_outer(tokens(F.col("text"))).alias("word")
        )
        .join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(F.coalesce(F.sum("_n"), F.lit(0)).cast("int").alias("n"))
        .collect()
    }
    assert fold == joined


def test_bpe_batched_rounds_cut_job_count(spark):
    """On a broad vocabulary whose top pairs are symbol-disjoint, the
    batched trainer learns many merges per counting round, so Spark jobs
    scale as rounds, not vocabulary: 8 merges must cost well under the
    sequential loop's ~2 jobs/merge. The merge table stays bit-identical
    to the sequential reference (the batch conditions PROVE faithfulness
    before accepting a candidate)."""
    from bigdata_weather_system_spark.operators.bpe import bpe_train

    # 8 disjoint two-letter words, distinct letters → one batch round
    vocab = ["qz", "xv", "jw", "kf", "mh", "pd", "gy", "cu"]
    words = {w: 100 - 10 * i for i, w in enumerate(vocab)}
    text = " ".join(w for w, c in words.items() for _ in range(c))
    df = spark.createDataFrame([(text,)], "text string")

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    merges, _, _ = bpe_train(df, n_merges=8, batch_m=8)
    after = len(tracker.getJobIdsForGroup() or [])

    ref = _bpe_reference(words, 8)
    assert [(a, b, n) for _, a, b, n in merges] == ref
    # sequential = 8 count actions + 8 checkpoints (+ word table), and
    # AQE splits each action into 1-2 jobs → ~17+; the single batched
    # round (word table + candidates + evidence + one checkpoint) must
    # stay far below that even with AQE's per-stage jobs
    assert after - before <= 12, f"jobs: {after - before}"


def test_isotonic_calibration_matches_reference_pav(spark):
    """PAV fit must equal a hand-rolled reference on a crafted sample with
    a known violation structure."""
    from bigdata_weather_system_spark.operators.inference import (
        isotonic_calibration,
    )

    # scores 1..8; labels create violations that pool into known blocks
    rows = [
        (1.0, 0.0), (2.0, 1.0), (3.0, 0.0), (4.0, 0.0),
        (5.0, 1.0), (6.0, 1.0), (7.0, 0.0), (8.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "score double, label double")
    seg = sorted(
        map(tuple, isotonic_calibration(df, "score", "label").collect())
    )

    def ref_pav(pairs):
        blocks = []
        for s, y in sorted(pairs):
            blocks.append([y, 1.0, s, s])
            while len(blocks) > 1 and (
                blocks[-2][0] / blocks[-2][1]
                >= blocks[-1][0] / blocks[-1][1]
            ):
                sy, n, lo, hi = blocks.pop()
                blocks[-1][0] += sy
                blocks[-1][1] += n
                blocks[-1][3] = hi
        return sorted(
            (b[2], b[3], b[0] / b[1], int(b[1])) for b in blocks
        )

    assert seg == ref_pav(rows)
    # calibrated means strictly increase across segments
    ps = [p for _, _, p, _ in seg]
    assert all(a < b for a, b in zip(ps, ps[1:]))


def test_misra_gries_guarantees_on_adversarial_stream(spark):
    """MG invariants on a stream DESIGNED to force decrements (many
    singletons drowning a few heavy items), across multiple partitions:
    estimates never overcount, undercounts stay within n/(k+1), and
    every item above the threshold is present — regardless of how rows
    landed in partitions."""
    from bigdata_weather_system_spark.operators.estimate import (
        misra_gries_heavy_hitters,
    )

    k = 4
    heavy = {"a": 400, "b": 300, "c": 150}
    rows = [(t,) for t, n in heavy.items() for _ in range(n)]
    rows += [(f"noise{i}",) for i in range(350)]  # 350 singletons
    df = spark.createDataFrame(rows, "item string").repartition(8)
    got = {
        r.item: r.mg_estimate
        for r in misra_gries_heavy_hitters(df, "item", k=k).collect()
    }
    n = len(rows)
    bound = n / (k + 1)  # 1200/5 = 240
    for t, true_n in heavy.items():
        if true_n > bound:
            assert t in got, f"{t} (count {true_n}) must survive"
        if t in got:
            assert got[t] <= true_n
            assert true_n - got[t] <= bound
    for item, est in got.items():
        true_n = heavy.get(item, 1)
        assert est <= true_n
        assert true_n - est <= bound


@pytest.mark.slow
def test_bpe_256_merge_request_jobs_scale_with_rounds(spark):
    """Round-5 verdict item #6: a realistic-vocab train request (256
    merges, batch_m=8) on the sf0.01 corpus. Two pins: (a) the merge
    table is bit-identical to the sequential Sennrich reference for
    every learnable merge (the corpus exhausts at ~89 — exhaustion must
    terminate cleanly, not loop); (b) total Spark jobs stay within a
    constant factor of merges learned — the adaptive evidence throttle
    keeps chain-dominated stretches near the sequential loop's ~3
    jobs/merge instead of paying a wasted trigram-evidence job every
    round (measured: 531 always-on vs ~345 adaptive vs 270 sequential
    on this corpus)."""
    from collections import Counter

    from bigdata_weather_system_spark.operators.bpe import bpe_train
    from bigdata_weather_system_spark.sources.tables import load_table

    import time

    d = load_table(
        spark, "/root/testdata/sf0.01", "documents"
    ).select("text").cache()
    d.count()
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    t0 = time.perf_counter()
    merges, _, _ = bpe_train(d, n_merges=256, batch_m=8)
    batched_wall = time.perf_counter() - t0
    after = len(tracker.getJobIdsForGroup() or [])

    words = Counter()
    for r in d.collect():
        words.update((r.text or "").lower().split())
    ref = _bpe_reference(dict(words), 256)
    assert [(a, b, n) for _, a, b, n in merges] == ref
    assert len(merges) > 50  # the corpus supports a real train
    jobs = after - before
    # sequential floor ~3/merge; adaptive measured ~3.9/merge; the pin
    # catches a regression to always-on evidence (~6/merge = 531 here)
    assert jobs <= 5 * len(merges) + 40, f"jobs: {jobs}"
    # Round-6: WALL is the gated currency now, not jobs (round-5 cut
    # jobs 531→345 while wall went 3.6→6.7s). On this chain-dominated
    # corpus the batched trainer must not cost more than the sequential
    # loop plus noise headroom (probes are wall-payback-gated, so the
    # throttle converges to sequential cost here). Generous 1.4× margin:
    # the host is noisy-neighbor and both walls are measured in-process.
    t0 = time.perf_counter()
    seq_merges, _, _ = bpe_train(d, n_merges=256, batch_m=1)
    seq_wall = time.perf_counter() - t0
    d.unpersist()
    assert [(a, b, n) for _, a, b, n in seq_merges] == ref
    assert batched_wall <= 1.4 * seq_wall + 5.0, (
        f"batched {batched_wall:.1f}s vs sequential {seq_wall:.1f}s"
    )


def test_hard_negative_mining_lsh_invariants(spark):
    """The ANN miner's hard guarantees, pinned at the operator level
    (the registry twins pin them via oracle booleans): every emitted
    pair is cross-label with a TRUE cosine (numpy-verified), output is
    identical across partitionings (seeded planes + rounded-then-ranked
    ties), and emitted similarities are a subset of the exact pair
    universe's values."""
    import numpy as np

    from pyspark.sql import functions as F

    from bigdata_weather_system_spark.operators.similarity import (
        adaptive_n_planes,
        hard_negative_mining_lsh,
    )

    rng = np.random.RandomState(2)
    n, dim = 120, 16
    vecs = rng.standard_normal((n, dim))
    rows = [
        (i, [float(x) for x in vecs[i]], f"l{i % 4}") for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    planes = adaptive_n_planes(n, target_bucket_size=16)
    out1 = sorted(
        map(
            tuple,
            hard_negative_mining_lsh(
                df.repartition(8), k=2, dim=dim, n_planes=planes
            ).collect(),
        )
    )
    out8 = sorted(
        map(
            tuple,
            hard_negative_mining_lsh(
                df.coalesce(1), k=2, dim=dim, n_planes=planes
            ).collect(),
        )
    )
    assert out1 == out8  # sharding-invariant
    assert len(out1) > 0
    labels = {i: f"l{i % 4}" for i in range(n)}
    # float32 storage: verify against the float32-rounded vectors
    v32 = vecs.astype(np.float32).astype(np.float64)
    for a, b, c in out1:
        assert labels[a] != labels[b]  # cross-label, always
        expect = float(
            v32[a] @ v32[b] / (np.linalg.norm(v32[a]) * np.linalg.norm(v32[b]))
        )
        assert abs(c - round(expect, 6)) <= 2e-6  # TRUE cosine, not sketch


def test_adaptive_n_planes_holds_bucket_occupancy():
    from bigdata_weather_system_spark.operators.similarity import (
        adaptive_n_planes,
    )

    # expected occupancy n / 2^planes stays within [target/2, 2*target]
    for n in (100, 1000, 10_000, 1_000_000, 10_000_000):
        p = adaptive_n_planes(n, target_bucket_size=32)
        occ = n / (1 << p)
        assert occ <= 32 * 2 and (occ >= 16 or p == 4)
    # clamps
    assert adaptive_n_planes(10) == 4
    assert adaptive_n_planes(10**12) == 24
    # monotone in n
    ps = [adaptive_n_planes(n) for n in (10, 100, 10**4, 10**6, 10**9)]
    assert ps == sorted(ps)
