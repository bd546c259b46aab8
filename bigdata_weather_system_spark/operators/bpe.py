"""Distributed BPE tokenizer training (Sennrich et al. 2016).

The tokenizer-training stage of an LLM data pipeline, shaped for a 100 TB
corpus: the corpus collapses ONCE into a (word, count) relation (the only
corpus-sized shuffle — vocabulary is tiny relative to the token stream),
and every merge round after that runs on the word table only:

1. count adjacent symbol pairs weighted by word frequency — one
   ``zip_with`` bigram explode + map-side-combining groupBy;
2. pick the most frequent pair (deterministic tie-break: count desc,
   then lexicographic) — a 1-row collect, exactly like broadcasting a
   join side;
3. apply the merge to every word's symbol sequence with a greedy
   left-to-right ``F.aggregate`` fold (pure column expression — no
   Python row path), lineage-truncated per round because the word table
   feeds both the next count and the next apply.

Driver state is the merge table itself (what the trainer exists to
produce); per-round cost is O(|vocabulary|), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over lowercased whitespace tokens — the one
    corpus-sized aggregation of BPE training. The tokenize+explode
    front end is spread first (file-count-guarded): on a single-file
    corpus it would otherwise run on one core (guide §2.5)."""
    from .similarity import _spread
    from .text import tokens

    return (
        _spread(df.select(F.col(text_col)))
        .select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _apply_merge(syms, a: str, b: str):
    """Greedy left-to-right application of merge (a, b) → ab to a symbol
    array, as a single fold: carry the previous unmerged symbol; when
    (prev, cur) == (a, b) emit the merged token and clear the carry (a
    merged token cannot immediately re-merge within the same round —
    standard BPE single-pass semantics)."""
    ab = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, s):
        hit = (acc["prev"] == F.lit(a)) & (s == F.lit(b))
        return (
            F.when(
                hit,
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(ab))).alias("out"),
                    F.lit(None).cast("string").alias("prev"),
                ),
            )
            .when(
                acc["prev"].isNotNull(),
                F.struct(
                    F.concat(acc["out"], F.array(acc["prev"])).alias("out"),
                    s.alias("prev"),
                ),
            )
            .otherwise(F.struct(acc["out"].alias("out"), s.alias("prev")))
        )

    def finish(acc):
        return F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def _batch_accept(cand, peaks, colliding):
    """Driver-side selection: the longest PREFIX of the sorted candidate
    list that is provably sequential-faithful. Candidate j (after the
    first) is accepted only if, versus every already-accepted pair i:

    - symbol-disjoint, and neither of j's symbols equals i's concat
      (so j's round-start count is exactly its count at sequential
      step j — merges of disjoint symbols can neither create nor
      destroy j's occurrences);
    - i's concat does not already exist as a symbol (else applying i
      INCREASES some old pair's count and the sorted order below the
      collected prefix can no longer be trusted);
    - n_j strictly exceeds i's context peak — the trigram-derived upper
      bound on the count of ANY pair the merge of i can create — so no
      new pair can outrank j at its sequential step.

    The first violation stops the batch (prefix-only: skipping a
    conflicted pair could let its decreased-but-still-large count win a
    later sequential step). With batch size 1 this degenerates to the
    exact sequential algorithm; the conditions make any accepted batch
    bit-identical to it too.
    """
    accepted: list[tuple[str, str, int]] = []
    for j, (a, b, n) in enumerate(cand):
        if j > 0:
            ok = True
            for ai, bi, _ni in accepted:
                ab_i = ai + bi
                if (
                    {a, b} & {ai, bi}
                    or a == ab_i
                    or b == ab_i
                    or ab_i in colliding
                    or n <= peaks.get((ai, bi), 0)
                ):
                    ok = False
                    break
            if not ok:
                break
        accepted.append((a, b, n))
    return accepted


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    batch_m: int = 8,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules from a document corpus.

    Returns (merge list [(rank, left, right, pair_count)], the same as a
    DataFrame, the final word table with its symbol sequences).
    Deterministic: ties break on (count desc, left asc, right asc), so
    two runs — and the pytest reference implementation — agree exactly.

    Merges are selected in BATCHES of up to ``batch_m`` per counting
    round (Spark jobs scale as rounds, not vocabulary size — the fix for
    the one-job-per-merge loop a 32k-vocab train cannot afford), but the
    output is guaranteed bit-identical to the sequential Sennrich
    algorithm: a candidate joins its batch only when the round's trigram
    context peaks PROVE no merge ahead of it can change its count or
    spawn a pair that would outrank it (see ``_batch_accept``). Chained
    merges (the next-best pair contains the symbol just created, common
    on tiny corpora) therefore fall back to singleton batches; broad
    real vocabularies, whose top pairs are symbol-disjoint, batch fully.
    """
    spark = df.sparkSession
    words = word_counts(df, text_col).select(
        "word",
        "cnt",
        F.filter(F.split("word", ""), lambda c: c != "").alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    # Evidence throttle, WALL-gated (round-5 verdict: the job-count
    # currency mis-priced probes — 531→345 jobs but 3.6→6.7s wall on the
    # chain-heavy corpus, because each trigram probe costs more wall
    # than the sequential round it tried to save). Three gates, all
    # output-neutral (the top-1 candidate is sequential-faithful by
    # definition, so batching policy can never change the merge table):
    #
    # 1. Deterministic predicted-payback gate: evidence can only SHRINK
    #    the overlap-derived prefix, so ``overlap_prefix − 1`` (capped by
    #    the merges still wanted) upper-bounds the counting rounds a
    #    probe can save, and it is known for free BEFORE probing. A
    #    probe costs ~1–2 sequential rounds of wall (the trigram scan is
    #    the same order as the bigram scan), so only predicted savings
    #    ≥ 3 rounds justify one. Chain-dominated corpora (prefix ≈ 2 —
    #    the 8-merge contract query's shape) run the plain sequential
    #    loop with zero probes; symbol-disjoint vocabularies (prefix ≈
    #    batch_m) still batch fully.
    # 2. Wall payback: a probe that ran is charged its measured wall
    #    and credited (extra merges bought) × (EMA of a sequential
    #    round's wall). A probe that doesn't pay for itself starts a
    #    cooldown that RATCHETS (8 → 16 → 32 → 64 eligible rounds) so
    #    chain-dominated vocabularies converge to sequential cost; a
    #    paying probe resets the ratchet.
    # 3. The round-4 overlap precheck (free, driver-side): a batch the
    #    overlap rules already cap at one candidate never probes.
    probe_cooldown = 0
    cooldown_len = 8
    seq_wall: float | None = None  # EMA wall of a probe-free round
    import time as _time

    while len(merges) < n_merges:
        t_round0 = _time.perf_counter()
        n_sym = F.size("syms")
        bigrams = words.filter(n_sym >= 2).select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, n_sym - 1),
                    F.slice("syms", 2, n_sym - 1),
                    lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                )
            ).alias("p"),
        )
        counts = bigrams.groupBy("p.l", "p.r").agg(F.sum("cnt").alias("n"))
        m = min(batch_m, n_merges - len(merges))
        cand_rows = counts.orderBy(
            F.col("n").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(m).collect()
        if not cand_rows:
            break
        cand = [(r["l"], r["r"], int(r["n"])) for r in cand_rows]

        # Driver-side PREcheck on the ≤batch_m collected candidates: the
        # symbol-overlap/concat conditions of _batch_accept need no
        # cluster evidence, and on Zipfian natural text the top pairs
        # CHAIN (the next-best pair contains the symbol just created),
        # collapsing most batches to singletons by overlap alone.
        # Measured on the sf0.01 corpus: paying the trigram-evidence job
        # every round made batch_m=8 cost 531 jobs where the sequential
        # loop cost 270. Skipping the evidence job whenever overlap
        # already caps the batch at one candidate restores the
        # sequential cost on chain-y stretches while keeping full
        # batches (and their round-count win) on symbol-disjoint ones —
        # output provably unchanged: peaks/colliding only ever shrink
        # the overlap-derived prefix, so an overlap prefix of 1 is
        # already final.
        overlap_prefix = 1
        for j in range(1, len(cand)):
            a_j, b_j, _n_j = cand[j]
            if all(
                not ({a_j, b_j} & {ai, bi})
                and a_j != ai + bi
                and b_j != ai + bi
                for ai, bi, _ in cand[:j]
            ):
                overlap_prefix += 1
            else:
                break

        peaks: dict[tuple[str, str], int] = {}
        colliding: set[str] = set()
        predicted_gain = (
            min(overlap_prefix, batch_m, n_merges - len(merges)) - 1
        )
        want_evidence = len(cand) > 1 and predicted_gain >= 3
        run_evidence = want_evidence and probe_cooldown == 0
        if want_evidence and not run_evidence:
            probe_cooldown -= 1
        t_probe0 = _time.perf_counter()
        if run_evidence:
            # One bounded job for the faithfulness evidence: per
            # candidate, the max weighted trigram count with the pair on
            # the right (x·a·b → new pair (x, ab)) or on the left
            # (a·b·z → (ab, z)) — an upper bound on any created pair's
            # count — plus whether the concat already exists as a symbol.
            cand_df = F.broadcast(
                spark.createDataFrame(
                    [(a, b, a + b) for a, b, _ in cand],
                    "ca string, cb string, cab string",
                )
            )
            tri = words.filter(n_sym >= 3).select(
                "cnt",
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, n_sym - 2).alias("x"),
                        F.slice("syms", 2, n_sym - 2).alias("y"),
                        F.slice("syms", 3, n_sym - 2).alias("z"),
                    )
                ).alias("t"),
            ).select("cnt", "t.x", "t.y", "t.z")
            left = (
                tri.join(
                    cand_df,
                    (F.col("y") == F.col("ca"))
                    & (F.col("z") == F.col("cb")),
                )
                .groupBy("ca", "cb", "x")
                .agg(F.sum("cnt").alias("w"))
            )
            right = (
                tri.join(
                    cand_df,
                    (F.col("x") == F.col("ca"))
                    & (F.col("y") == F.col("cb")),
                )
                .groupBy("ca", "cb", "z")
                .agg(F.sum("cnt").alias("w"))
            )
            peak_rows = (
                left.select("ca", "cb", "w")
                .unionByName(right.select("ca", "cb", "w"))
                .groupBy("ca", "cb")
                .agg(F.max("w").alias("peak"))
            )
            sym_hits = (
                words.select(F.explode("syms").alias("s"))
                .join(cand_df, F.col("s") == F.col("cab"))
                .select("cab")
                .distinct()
            )
            evidence = peak_rows.unionByName(
                sym_hits.select(
                    F.lit(None).cast("string").alias("ca"),
                    F.col("cab").alias("cb"),
                    F.lit(-1).cast("bigint").alias("peak"),
                )
            ).collect()
            for r in evidence:
                if r["ca"] is None:
                    colliding.add(r["cb"])
                else:
                    peaks[(r["ca"], r["cb"])] = int(r["peak"])

        probe_wall = _time.perf_counter() - t_probe0
        # Without evidence only the top-1 is provably faithful — never
        # let _batch_accept extend a batch on overlap conditions alone.
        accepted = _batch_accept(
            cand if run_evidence else cand[:1], peaks, colliding
        )
        if run_evidence:
            gain = len(accepted) - 1  # counting rounds the probe saved
            paid = (
                gain > 0
                if seq_wall is None
                else gain * seq_wall >= probe_wall
            )
            if paid:
                cooldown_len = 8  # probing is paying here — reset ratchet
            else:
                probe_cooldown = cooldown_len
                cooldown_len = min(64, cooldown_len * 2)
        for a, b, n in accepted:
            merges.append((len(merges) + 1, a, b, n))
            # rank-order application — identical to the sequential loop
            words = words.withColumn(
                "syms", _apply_merge(F.col("syms"), a, b)
            )
        # the word table feeds both the next round's counts and apply —
        # truncate lineage ONCE per round so the fold chain doesn't
        # re-evaluate (and deepen) every merge
        words = words.localCheckpoint(eager=True)
        if not run_evidence:
            w = _time.perf_counter() - t_round0
            seq_wall = w if seq_wall is None else 0.5 * seq_wall + 0.5 * w
    merge_df = spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint"
    )
    return merges, merge_df, words


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table to new text: per word, fold the merges
    in rank order (the standard encode; each rule is one column fold, so
    the whole encode is a single narrow projection)."""
    from .text import tokens

    out = df.select("*", tokens(F.col(text_col)).alias("_words"))
    enc = F.transform(
        "_words",
        lambda w: F.filter(F.split(w, ""), lambda c: c != ""),
    )
    def rule(a: str, b: str):
        # closure factory, NOT default-arg lambda: PySpark reads lambda
        # arity to pick the HOF signature, and default args count
        return lambda s: _apply_merge(s, a, b)

    col = enc
    for _, a, b, _n in merges:
        col = F.transform(col, rule(a, b))
    return out.withColumn("bpe_tokens", F.flatten(col)).drop("_words")
