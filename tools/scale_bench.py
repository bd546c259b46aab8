"""Empirical scale validation: measure sf0.1 → sf1.0 per-query scaling.

SCALING.md's 100 TB arguments were analytic (plan pins + complexity
classes); this tool measures them. It synthesizes an sf1.0 dataset by
10×-replicating the read-only sf0.1 testdata (key-offset copies that
preserve join integrity and distribution shape — see _scale_* below),
times the N most expensive bench queries at both scales, and writes the
per-query scaling factors to SCALE_r{N}.json for the SCALING.md table.

10× data through a linear operator on a fixed-size local[32] box should
cost ~10-12× (same parallelism, 10× rows/task); anything beyond ~15×
means super-linear work and needs a fix or a documented bound.

Usage:
  python tools/scale_bench.py --generate          # build .scale/sf1 (~170 MB)
  python tools/scale_bench.py --run --round 4     # time + write SCALE_r4.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scale", "sf1")
COPIES = 10
TOP_N = 50


def _span(df, col):
    """Key offset per copy: a power of 10 above the max key, so copied
    keys never collide and stay readable."""
    m = df.agg(F.max(col)).first()[0]
    s = 1
    while s <= m:
        s *= 10
    return s


def _replicate(df, transforms):
    """Union COPIES transformed copies of df. transforms(i) -> list of
    (col, expr) replacements applied to copy i (copy 0 is verbatim)."""
    parts = []
    for i in range(COPIES):
        c = df
        if i > 0:
            for col, expr in transforms(i):
                c = c.withColumn(col, expr)
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def generate(spark) -> None:
    from bigdata_weather_system_spark.sources.tables import load_table

    os.makedirs(DST, exist_ok=True)

    # dims copied verbatim — facts grow, dimensions don't (the usual way
    # a warehouse actually scales)
    for t in ("region", "nation", "customer", "supplier", "part"):
        load_table(spark, SRC, t).write.mode("overwrite").parquet(
            os.path.join(DST, f"{t}.parquet")
        )

    orders = load_table(spark, SRC, "orders")
    ok_span = _span(orders, "o_orderkey")
    _replicate(
        orders,
        lambda i: [("o_orderkey", F.col("o_orderkey") + i * ok_span)],
    ).write.mode("overwrite").parquet(os.path.join(DST, "orders.parquet"))

    li = load_table(spark, SRC, "lineitem")
    _replicate(
        li, lambda i: [("l_orderkey", F.col("l_orderkey") + i * ok_span)]
    ).write.mode("overwrite").parquet(os.path.join(DST, "lineitem.parquet"))

    # events: extend the TIMELINE (copy i shifted by i × the table's
    # span) — groups-per-day stay stable, group COUNT grows 10×, the
    # direction an event stream actually grows
    ev = load_table(spark, SRC, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span_days = (hi - lo).days + 1
    ev_span = _span(ev, "event_id")
    _replicate(
        ev,
        lambda i: [
            ("event_id", F.col("event_id") + i * ev_span),
            ("ts", F.col("ts") + F.expr(f"INTERVAL {i * span_days} DAYS")),
        ],
    ).write.mode("overwrite").parquet(os.path.join(DST, "events.parquet"))

    # documents: 10× corpus with per-copy character rotation so copies
    # are NOT near-duplicates of each other (keeps the dup rate — and so
    # the candidate-pair load — proportional to the original corpus)
    docs = load_table(spark, SRC, "documents")
    doc_span = _span(docs, "doc_id")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    _replicate(
        docs,
        lambda i: [
            ("doc_id", F.col("doc_id") + i * doc_span),
            ("text", F.translate("text", alpha, alpha[i:] + alpha[:i])),
        ],
    ).write.mode("overwrite").parquet(os.path.join(DST, "documents.parquet"))

    emb = load_table(spark, SRC, "embeddings")
    vec_span = _span(emb, "vec_id")
    dim = len(emb.select("embedding").first()[0])
    _replicate(
        emb,
        lambda i: [
            ("vec_id", F.col("vec_id") + i * vec_span),
            # rotate the vector per copy — distinct points, same norm
            (
                "embedding",
                F.concat(
                    F.slice("embedding", i + 1, dim - i),
                    F.slice("embedding", 1, i),
                ),
            ),
        ],
    ).write.mode("overwrite").parquet(os.path.join(DST, "embeddings.parquet"))
    print(f"generated {DST}")


#: Always measured regardless of bench rank: the graph family (whose
#: round-4 regressions were exactly a shared-build accounting change —
#: the scale curve of the POST-fix plans is the round-5 verdict ask).
MUST_MEASURE = [
    "part_copurchase_edges",
    "part_copurchase_pagerank",
    "part_degree_distribution",
    "part_copurchase_triangles",
    "part_copurchase_adamic_adar",
    "part_khop_size_fm_estimate",
    "part_harmonic_centrality",
    "part_edge_triangle_support",
    # round-6: the chained flagship + the three round-5 regression
    # targets and the web/curation families (VERDICT r5, Next #4)
    "web_curation_pipeline",
    "cosine_topk_pq",
    "cosine_topk_ivf_pq",
    "doc_bpe_merge_table",
    "doc_bpe_encode_stats",
    "lineitem_column_stats",
    "domain_concentration_metrics",
    "doc_line_dedup",
    "dsir_importance_weights",
    "lang_unimax_allocation",
    "doc_warc_extract_pipeline",
    # round-8: md5-keyed LSH family, real-codec media features, the
    # ANN serving twin, motion-compensated video
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "embedding_near_dup_lsh",
    "media_decode_features",
    "media_frame_samples",
    "media_mpv_decode",
    "media_mpa_decode",
    "knn_label_eval_ann_serving",
    "domain_cap_survivors",
    "doc_url_canonicalize",
    # round-8 (cont.): incremental IVF append invariant
    "cosine_topk_ivf_incremental",
    # round-7: the round-6 codec family (its deterministic 10% subsets
    # make wall time ~constant — demonstrated, not assumed; VERDICT r6
    # Next #6), the bounded twins of the exact all-pairs baselines
    # (done-criterion: ratio <= 3x; VERDICT r6 Next #1), and the
    # distributed trainers
    "media_png_decode",
    "media_jpeg_decode",
    "media_avi_decode",
    "media_gif_decode",
    "media_adpcm_decode",
    "doc_warc_gz_extract_pipeline",
    "knn_label_eval_ann",
    "hard_negative_pairs_ann",
    "doc_fuzzy_match_pairs_capped",
    "distributed_linear_train",
    "distributed_logistic_train",
]


def run(spark, round_no: int) -> None:
    from bigdata_weather_system_spark import contract

    with open(os.path.join(REPO, "bench_full.json")) as f:
        per_q = json.load(f)["queries"]
    top = [k for k, _ in sorted(per_q.items(), key=lambda kv: -kv[1])][:TOP_N]
    for name in MUST_MEASURE:
        if name not in top and name in contract.QUERIES:
            top.append(name)

    results = {}
    for name in top:
        fn = contract.QUERIES[name]
        times = {}
        for label, sf_dir in (("sf0.1", SRC), ("sf1.0", DST)):
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            times[label] = round(time.time() - t0, 2)
            times[f"rows_{label}"] = n
            # same hygiene as the bench sweep: per-query operator caches
            # must not leak across measurements
            spark.catalog.clearCache()
        ratio = round(times["sf1.0"] / max(times["sf0.1"], 0.01), 1)
        results[name] = {**times, "ratio": ratio}
        print(
            f"{name}: {times['sf0.1']}s -> {times['sf1.0']}s "
            f"({ratio}x)",
            flush=True,
        )

    out = {
        "round": round_no,
        "copies": COPIES,
        "top_n": TOP_N,
        "note": (
            "10x replicated sf0.1 (key-offset copies, dims fixed, "
            "rotated doc text / embeddings so dup rate stays "
            "proportional); linear ops expect ~10-12x on a fixed "
            "local[32] box, >15x flags super-linear work"
        ),
        "queries": results,
    }
    path = os.path.join(REPO, f"SCALE_r{round_no}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--generate", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--round", type=int, default=0)
    args = ap.parse_args()

    from bigdata_weather_system_spark.session import get_spark

    spark = get_spark(app_name="scale-bench")
    if args.generate:
        generate(spark)
    if args.run:
        run(spark, args.round)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
