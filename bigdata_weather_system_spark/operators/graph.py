"""Distributed graph analytics over co-occurrence graphs.

The reference has no graph surface; corpus curation does — PageRank-style
authority weighting (CommonCrawl-derived quality signals), triangle /
clustering structure for community and spam detection, and degree
profiles for skew diagnostics. Everything here is pure DataFrame algebra:

- the graph is an edge relation, built from a co-occurrence fact table
  with the same grouped-postings shape the dedup family's ``pair_up``
  uses, specialized to scalar items (one ``collect_set`` shuffle, no
  self-join, no separate distinct pass);
- PageRank is a FIXED-ITERATION loop of join + groupBy — each iteration
  is one shuffle on the destination key, the rank/degree relation is
  cached, and undirected edges mean no dangling-mass correction (every
  node has out-degree ≥ 1);
- triangle counting uses the degree-ordered orientation (each edge
  directed from the (degree, id)-smaller endpoint), which counts every
  triangle exactly once and bounds the wedge join's fan-out by the
  graph's arboricity instead of its max degree — the published trick
  that makes the count feasible on power-law graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int | None = None,
) -> DataFrame:
    """Canonical undirected edges (src < dst, weight = #groups where the
    pair co-occurs) from a (group, item) fact table. Items are
    de-duplicated per group (``collect_set``), so a repeated line in one
    group is a single incidence. ``max_group_size`` caps pathological
    groups (the quadratic guard, same semantics as the dedup hot-bucket
    cap).

    ONE shuffle to postings: ``collect_set`` aggregates straight off the
    fact table with map-side partial aggregation (the per-group set
    dedups in the map phase), replacing the earlier distinct→pair_up
    chain whose separate ``distinct`` paid a full extra exchange of the
    incidence relation before grouping. Pairs are generated in-place
    from the sorted postings array (scalar elements, no struct boxing),
    then one aggregation on the canonical pair computes weights.

    Single-file inputs: a fact table that scans as fewer partitions
    than the session has cores would run the scan + partial
    ``collect_set`` phase on one core. For that case the narrow
    (group, item) projection is hash-repartitioned BY THE GROUP KEY
    first — the exchange the aggregation needs anyway, so the plan
    still has exactly one shuffle to postings, but the set-building
    aggregation runs after it in parallel instead of before it on a
    single task. A many-file table passes through untouched (the same
    file-count guard as ``similarity._spread``)."""
    src = df.select(F.col(group_col).alias("_g"), F.col(item_col).alias("_i"))
    par = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files and len(files) < par:
        src = src.repartition(par, "_g")
    postings = (
        src.groupBy("_g")
        .agg(F.array_sort(F.collect_set("_i")).alias("_ps"))
        .filter(F.size("_ps") > 1)
    )
    if max_group_size is not None:
        postings = postings.filter(F.size("_ps") <= max_group_size)
    combos = F.flatten(
        F.transform(
            F.col("_ps"),
            lambda x, i: F.transform(
                F.slice(F.col("_ps"), i + 2, F.size(F.col("_ps"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        postings.select(F.explode(combos).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _directed(edges: DataFrame) -> DataFrame:
    """Both directions of a canonical undirected edge list."""
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list (canonical
    src < dst rows; each edge contributes both directions).

    Returns (node, rank). Ranks sum to 1. The out-degree relation and
    the directed edge list are cached — they are reused every iteration —
    and each iteration is exactly one shuffle (groupBy dst); the
    join side reuses the same hash partitioning under AQE. Fixed
    iteration count (not convergence polling) keeps the run deterministic
    and driver-loop-free: no collect, no accumulators, and NO job at
    plan-build — the node count rides a broadcast 1-row aggregate
    (re-derived per use from the cached degree relation) instead of an
    eager ``deg.count()``, the same laziness discipline as
    ``triangle_stats``.
    """
    directed = _directed(edges).cache()
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    n_df = deg.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    ranks = deg.crossJoin(F.broadcast(n_df)).select(
        "src", (1.0 / F.col("_n")).alias("rank")
    )
    out_share = directed.join(deg, "src")
    for _ in range(iterations):
        contrib = out_share.join(ranks, "src").select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("deg")).alias("share"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("share").alias("_s"))
            .crossJoin(F.broadcast(n_df))
            .select(
                F.col("node").alias("src"),
                (
                    (1.0 - damping) / F.col("_n")
                    + F.lit(damping) * F.col("_s")
                ).alias("rank"),
            )
        )
    return ranks.select(F.col("src").alias("node"), "rank")


def degree_stats(edges: DataFrame) -> DataFrame:
    """Degree histogram of the undirected graph: (degree, n_nodes)."""
    deg = _directed(edges).groupBy("src").agg(
        F.count(F.lit(1)).alias("degree")
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Single-row global triangle census: n_nodes, n_edges, n_triangles,
    and the global clustering coefficient 3·triangles / wedges.

    Orientation: every undirected edge is directed from its
    (degree, id)-smaller endpoint to the larger. Each triangle a→b,
    a→c, b→c then surfaces exactly once, at its apex edge (a, b), as a
    common element of the two out-neighbor sets — and out-degrees are
    bounded by O(sqrt(m)) on any graph, which is what keeps the
    per-edge intersection from exploding on hubs.
    """
    # the (possibly expensive) edge-build pipeline feeds THREE consumers —
    # degree agg, adjacency groupBy, and the closing-edge probe — so pin it
    # in memory once instead of re-evaluating the upstream per consumer
    edges = edges.select("src", "dst").cache()
    deg = (
        _directed(edges)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "v")
        .cache()
    )
    e = (
        edges.select("src", "dst")
        .join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "ds"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "dd"), "dst")
    )
    fwd = F.struct("ds", "src") < F.struct("dd", "dst")
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )
    # Oriented edge-iterator triangle count (round 9; replaces wedge
    # enumeration): in the (degree, id) DAG orientation every triangle
    # a→b, a→c, b→c is counted EXACTLY once, at its apex edge (a, b),
    # as |N⁺(a) ∩ N⁺(b)| — both out-neighbor lists, both O(sqrt m)-
    # bounded. One groupBy-apex exchange builds the adjacency, then the
    # m oriented edges stream through two hash-join lookups and one
    # codegen ``array_intersect`` per edge: the same Σ out-deg² element
    # work as before, but WITHOUT materializing the wedge pairs as rows
    # (sf0.1: ~36M generated wedge rows probing a 1.2M-entry join for
    # 1.9M triangles). The broadcast of the adjacency totals m array
    # entries — the same order as the closing-edge relation the wedge
    # form broadcast; at extreme m drop the hint and AQE picks the
    # co-partitioned shuffle join on the edge endpoint instead.
    # cached: BOTH broadcast lookups below read this relation, and the
    # two subtrees differ (lo vs hi key) so ReusedExchange cannot dedup
    # them — without the pin the orientation pipeline evaluates twice
    adj = oriented.groupBy("lo").agg(
        F.sort_array(F.collect_list("hi")).alias("_ns")
    ).cache()
    # a 1-row aggregate CROSS-JOINED to the summary (broadcast, 1×1) so
    # building this DataFrame runs NO job; coalesce keeps the edgeless-
    # graph result 0, as the old count(*) form returned
    tri = (
        oriented.join(
            F.broadcast(adj.withColumnRenamed("_ns", "_nu")), "lo"
        )
        .join(
            F.broadcast(
                adj.select(
                    F.col("lo").alias("hi"), F.col("_ns").alias("_nv")
                )
            ),
            "hi",
        )
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("_nu", "_nv"))), F.lit(0)
            ).alias("n_triangles")
        )
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("n_wedges"),
    )
    return summary.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        F.col("n_triangles").cast("long").alias("n_triangles"),
        # a graph of disjoint single edges has zero wedges — clustering is
        # 0.0 by convention, not NULL
        F.when(
            F.col("n_wedges") > 0,
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("global_clustering"),
    )


def bfs_layers(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Bounded-depth BFS over an undirected edge list: (node, hop) with
    hop = shortest distance from any source node (hop 0), up to
    ``max_hops``.

    Each hop is one join (frontier × directed edges) plus an anti-join
    against the visited set — the standard distributed BFS where work is
    proportional to the frontier's edge boundary, not the graph. The
    visited set is re-cached per hop and lineage-truncated so deep
    traversals don't accumulate a quadratic plan. Bounded depth keeps
    the loop deterministic and driver-collect-free.
    """
    directed = _directed(edges).cache()
    frontier = sources.select(F.col(sources.columns[0]).alias("node")).distinct()
    # Checkpoint (not cache) the seed: if the hop loop breaks on its very
    # first iteration the returned `visited` IS the seed, and the finally
    # block must not strip the only materialization the return value has.
    seed = frontier.select("node", F.lit(0).alias("hop")).localCheckpoint(
        eager=True
    )
    visited = seed
    try:
        for h in range(1, max_hops + 1):
            nxt = (
                directed.join(
                    frontier.withColumnRenamed("node", "src"), "src"
                )
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
            )
            nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.select("node", F.lit(h).alias("hop"))
            ).localCheckpoint(eager=True)
            frontier = nxt
    finally:
        # Drop the per-call cached blocks so long registry sweeps (the
        # 405-query bench loop) don't accumulate executor storage; the
        # returned relation is localCheckpoint-ed on every path, so
        # unpersisting the inputs is safe.
        directed.unpersist()
    return visited


def multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Per-source bounded-depth BFS: (s, node, hop) where hop is the
    shortest distance from source ``s`` specifically (unlike
    ``bfs_layers``, which merges all sources into one wavefront). The
    frontier is keyed by (source, node), so the per-hop work is the
    union of the individual frontiers' edge boundaries — the standard
    labeled multi-BFS used for per-seed centralities and ego-network
    features. Visited-set anti-join + per-hop ``localCheckpoint`` keep
    the plan linear in depth; seeds are expected to be a bounded set
    (the per-source state grows with |seeds| × reachable nodes)."""
    directed = _directed(edges).cache()
    frontier = (
        sources.select(F.col(sources.columns[0]).alias("s"))
        .distinct()
        .select("s", F.col("s").alias("node"))
    )
    # Checkpointed for the same first-hop-break reason as bfs_layers.
    seed = frontier.select(
        "s", "node", F.lit(0).alias("hop")
    ).localCheckpoint(eager=True)
    visited = seed
    try:
        for h in range(1, max_hops + 1):
            nxt = (
                directed.join(
                    frontier.withColumnRenamed("node", "src"), "src"
                )
                .select("s", F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("s", "node"), ["s", "node"], "left_anti")
            )
            nxt = nxt.localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
            visited = visited.unionByName(
                nxt.select("s", "node", F.lit(h).alias("hop"))
            ).localCheckpoint(eager=True)
            frontier = nxt
    finally:
        # Mirror bfs_layers' cleanup: per-call caches must not outlive
        # the call in a 405-query sweep. The result is checkpointed.
        directed.unpersist()
    return visited


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the teleport distributes to the SOURCE set
    (uniformly) instead of all nodes — scores become 'relevance to these
    seeds', the classic related-items / recommendation walk. Same
    one-shuffle-per-iteration loop as ``pagerank``; the restart vector is
    a broadcast-joined indicator, and nodes outside the walk's reach
    simply keep rank 0 (they are absent from the output)."""
    directed = _directed(edges).cache()
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).cache()
    src = sources.select(
        F.col(sources.columns[0]).alias("src")
    ).distinct().cache()
    # lazy source count — broadcast 1-row aggregate, no job at plan-build
    n_src_df = src.agg(F.count(F.lit(1)).cast("double").alias("_ns"))
    restart = src.crossJoin(F.broadcast(n_src_df)).select(
        "src", (1.0 / F.col("_ns")).alias("restart")
    )
    ranks = restart.select("src", F.col("restart").alias("rank"))
    out_share = directed.join(deg, "src")
    for _ in range(iterations):
        contrib = (
            out_share.join(ranks, "src")
            .groupBy(F.col("dst").alias("src"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("_in"))
        )
        ranks = (
            contrib.join(F.broadcast(restart), "src", "full_outer")
            .select(
                "src",
                (
                    F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                    + (1.0 - damping) * F.coalesce(F.col("restart"), F.lit(0.0))
                ).alias("rank"),
            )
            .filter(F.col("rank") > 0)
        )
    return ranks.select(F.col("src").alias("node"), "rank")


def salton_similarity(edges: DataFrame) -> DataFrame:
    """Item-item similarity on the co-occurrence graph: Salton cosine
    w_ij / sqrt(deg_i · deg_j) — the degree-normalized co-purchase
    score that damps popular-item bias (raw co-counts just recommend
    bestsellers). Two broadcast-joined degree lookups over the edge
    list; degrees here are WEIGHTED (sum of incident co-counts)."""
    # the edge build feeds the weighted-degree agg AND both join sides —
    # cache it so an expensive upstream (pair_up) is evaluated once
    edges = edges.select("src", "dst", "weight").cache()
    dw = edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    wdeg = (
        dw.groupBy("src")
        .agg(F.sum("weight").alias("wdeg"))
        .withColumnRenamed("src", "v")
    )
    return (
        edges.join(wdeg.withColumnRenamed("v", "src").withColumnRenamed("wdeg", "da"), "src")
        .join(wdeg.withColumnRenamed("v", "dst").withColumnRenamed("wdeg", "db"), "dst")
        .select(
            "src",
            "dst",
            "weight",
            F.round(
                F.col("weight") / F.sqrt(F.col("da") * F.col("db")), 6
            ).alias("salton"),
        )
    )


def kcore(edges: DataFrame, k: int = 3, rounds: int = 12) -> DataFrame:
    """Bounded-round k-core peel: repeatedly drop nodes with degree < k
    (and their incident edges); return the surviving (node, core_degree)
    rows after ``rounds`` rounds.

    The peel is monotone — once stable, further rounds are no-ops — so a
    FIXED round count is both deterministic and oracle-replayable (the
    SQL oracle unrolls the same rounds as chained CTEs; an adaptive
    'until converged' loop could not be expressed there, and 12 rounds
    converge far beyond the depth real co-occurrence graphs need:
    convergence on the test graph is pinned in tests). Each round is one
    degree aggregation plus two semi-joins against the ~|nodes|-row keep
    list; the evolving edge list feeds BOTH the aggregation and the next
    round's probe, so it is lineage-truncated per round
    (``localCheckpoint``, the connected-components pattern) — without it
    the doubly-consumed subplan re-evaluates 2^rounds times.
    """
    e = _directed(edges).localCheckpoint(eager=True)
    prev_cnt = e.count()
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        # the peel is monotone-decreasing, so an unchanged edge count IS
        # the fixed point — stop early (identical result to running the
        # remaining rounds; the count reads the fresh checkpoint, no
        # recompute)
        cnt = e.count()
        if cnt == prev_cnt or cnt == 0:
            break
        prev_cnt = cnt
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
    )


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Deterministic synchronous label propagation: every node starts
    labeled with its own id; each round it adopts the most frequent
    label among its NEIGHBORS, ties to the smallest label. A fixed
    round count (no convergence polling) keeps the run deterministic
    and lets a SQL oracle unroll the recurrence as chained CTEs — the
    same design as ``pagerank`` above.

    The arg-max is ``min(struct(-count, label))`` — a partial-aggregable
    expression, so each round is exactly one join + one shuffle on the
    voting node, with no window and no row_number. The directed edge
    relation is cached across rounds. Classic LPA caveat applies and is
    embraced: labels can oscillate on bipartite-ish structure, which a
    FIXED iteration count makes reproducible rather than racy (the
    asynchronous variant is order-dependent and unsuited to a parity
    gate).
    """
    directed = _directed(edges).cache()
    labels = directed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            directed.join(labels, directed["dst"] == labels["node"])
            .groupBy(directed["src"], labels["label"])
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("src")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("b")
            )
            .select(F.col("src").alias("node"), F.col("b.l").alias("label"))
        )
    return labels


def fm_neighborhood_sizes(
    edges: DataFrame, rounds: int = 2, n_bits: int = 24
) -> DataFrame:
    """Flajolet-Martin / HyperANF-style approximate k-hop neighborhood
    sizes (Boldi, Rosa & Vigna, "HyperANF", WWW 2011 — the canonical
    web-scale neighborhood-function algorithm).

    Each node starts with a single-bit FM register (bit position =
    content hash of the node id mod ``n_bits``); each round OR-combines
    the registers of the node's neighbors into its own, so after k
    rounds a node's register is the OR over its entire <=k-hop
    neighborhood (self included). The position ``r`` of the LOWEST UNSET
    bit then estimates ``|N_k(v)| ~= 2^r / 0.77351`` (Flajolet-Martin's
    bias constant).

    Why this is the 100 TB shape: exact k-hop sizes need a distinct-set
    per node (state linear in reachable-set size — quadratic in total);
    the FM register is CONSTANT-SIZE mergeable state, each round is one
    shuffle (join on dst + ``bit_or`` groupBy on src), and the register
    algebra is associative so partial aggregation combines map-side.
    Production systems widen to HLL registers x multiple trials for
    tighter error; a single register keeps the estimate deterministic
    and oracle-checkable here.

    Input: canonical undirected edges (src < dst). Output: one row per
    node with the register, r, and the neighborhood-size estimate.
    """
    directed = _directed(edges)
    nodes = directed.select(F.col("src").alias("node")).distinct()
    r0 = (
        F.conv(
            F.substring(F.md5(F.col("node").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % n_bits
    )
    # 2^r0 is exact in a double for r0 < 53, so pow+cast is a portable
    # variable-distance shift (shiftleft needs a literal distance).
    masks = nodes.select(
        "node",
        F.pow(F.lit(2.0), r0.cast("double")).cast("long").alias("mask"),
    )
    for _ in range(rounds):
        nbr = (
            directed.join(
                masks.select(F.col("node").alias("dst"), "mask"), "dst"
            )
            .groupBy("src")
            .agg(F.bit_or("mask").alias("nmask"))
        )
        masks = (
            masks.join(
                nbr.select(F.col("src").alias("node"), "nmask"),
                "node",
                "left",
            )
            .select(
                "node",
                F.col("mask")
                .bitwiseOR(F.coalesce(F.col("nmask"), F.lit(0)))
                .alias("mask"),
            )
            # Per-round lineage cut (same discipline as BFS): each round
            # reads the previous register table TWICE (neighbor join +
            # self merge) — uncut, round k re-evaluates round k-1 twice,
            # i.e. ~2^rounds evaluations of the whole chain.
            .localCheckpoint(eager=True)
        )
    # Lowest zero bit of mask, isolated as a power of two: ~mask & (mask+1).
    lzb = F.bitwise_not(F.col("mask")).bitwiseAND(F.col("mask") + F.lit(1))
    r = F.round(F.log2(lzb.cast("double"))).cast("int")
    return masks.select(
        "node",
        F.col("mask").alias("fm_mask"),
        r.alias("fm_r"),
        F.round(F.pow(F.lit(2.0), r.cast("double")) / F.lit(0.77351), 4).alias(
            "nbh_estimate"
        ),
    )
