"""Contract queries: graph analytics over the part co-purchase graph.

The graph is derived from lineitem: parts are nodes, and two parts that
appear in the same order share an undirected edge (weight = number of
co-occurring orders). PageRank runs a FIXED 3 iterations so the oracle
can unroll the recurrence as three chained CTEs — iterative graph
algorithms are normally outside SQL's reach, but a fixed unrolling is
exactly expressible, which turns the usual rows-only check into a full
value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .core import register, _t
from ..operators.graph import (
    cooccurrence_edges,
    degree_stats,
    fm_neighborhood_sizes,
    pagerank,
    triangle_stats,
)

_EDGES_CTE = """
    items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    pairs AS (
      SELECT a.i AS src, b.i AS dst, count(*) AS weight
      FROM items a JOIN items b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    edges AS (SELECT src, dst FROM pairs
              UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
"""

def shared_copurchase_edges(
    spark: SparkSession, sf_dir: str, *, pinned: bool = True
) -> DataFrame:
    """The weighted canonical co-purchase edge relation, built fresh for
    ONE query invocation (lineitem → grouped postings → pair fan-out →
    weight agg).

    Round-8 optimization note: this used to memoize the eager
    localCheckpoint per (appId, sf_dir) so the whole graph family after
    its first member read a prebuilt relation. That made every measured
    invocation but the first skip the build — result caching across
    queries, not engine speed — so the memo was removed: each call
    recomputes from the parquet input. ``pinned=True`` keeps one eager
    localCheckpoint WITHIN the invocation (iterative consumers re-read
    the relation many times); single-pass consumers pass
    ``pinned=False`` and fuse the build into their own plan."""
    li = _t(spark, sf_dir, "lineitem")
    df = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return df.localCheckpoint(eager=True) if pinned else df


_PR_STEP = """
    r{k} AS (
      SELECT e.dst AS src,
             0.15 * any_value(1.0 / n.n)
               + 0.85 * sum(r.rank / d.deg) AS rank
      FROM edges e
      JOIN r{p} r ON e.src = r.src
      JOIN deg d ON e.src = d.src
      CROSS JOIN n
      GROUP BY e.dst
    )
"""


@register(
    "part_copurchase_edges",
    oracle=f"""
    WITH {_EDGES_CTE}
    SELECT src, dst, weight FROM pairs WHERE weight >= 2
    """,
)
def part_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase edge build (weight ≥ 2 — repeated co-occurrence only):
    grouped-postings pair generation (one shuffle on the order key, no
    self-join), then a weight aggregation on the canonical (src < dst)
    pair."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return edges.filter(F.col("weight") >= 2)


@register(
    "part_copurchase_pagerank",
    oracle=f"""
    WITH {_EDGES_CTE},
    n AS (SELECT count(*)::DOUBLE AS n FROM deg),
    r0 AS (SELECT src, any_value(1.0 / n.n) AS rank FROM deg CROSS JOIN n
           GROUP BY src),
    {_PR_STEP.format(k=1, p=0)},
    {_PR_STEP.format(k=2, p=1)},
    {_PR_STEP.format(k=3, p=2)}
    SELECT r3.src AS node, round(r3.rank * n.n, 6) AS rank_x_n
    FROM r3 CROSS JOIN n
    """,
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the co-purchase graph.
    Output is rank × N (≈1.0 scale) rounded to 6 — raw ranks are ~1/N and
    would lose all significance to a fixed-decimal round. Each iteration
    is one shuffle; degree and edge relations are cached across
    iterations."""
    edges = shared_copurchase_edges(spark, sf_dir)
    # Checkpoint the converged ranks: both the broadcast node count and
    # the result projection read them — without pinning, the 3-iteration
    # join+agg chain is evaluated TWICE (once per consumer).
    ranks = pagerank(edges, iterations=3, damping=0.85).localCheckpoint(
        eager=True
    )
    n = ranks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return ranks.crossJoin(F.broadcast(n)).select(
        "node", F.round(F.col("rank") * F.col("n"), 6).alias("rank_x_n")
    )


@register(
    "part_degree_distribution",
    oracle=f"""
    WITH {_EDGES_CTE}
    SELECT deg AS degree, count(*) AS n_nodes FROM deg GROUP BY deg
    """,
)
def part_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph — the skew diagnostic
    run before any per-node iteration (a hub-heavy histogram means the
    wedge/join fan-outs need the degree-ordered guards)."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return degree_stats(edges)


@register(
    "part_copurchase_triangles",
    oracle=f"""
    WITH {_EDGES_CTE},
    tri AS (
      SELECT count(*) AS t
      FROM pairs p1
      JOIN pairs p2 ON p2.src = p1.src AND p2.dst > p1.dst
      JOIN pairs p3 ON p3.src = p1.dst AND p3.dst = p2.dst
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM pairs) AS n_edges,
           tri.t AS n_triangles,
           CASE WHEN (SELECT sum(deg * (deg - 1) / 2) FROM deg) > 0
                THEN round(3.0 * tri.t /
                           (SELECT sum(deg * (deg - 1) / 2) FROM deg), 6)
                ELSE 0.0 END
             AS global_clustering
    FROM tri
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census + clustering coefficient. The Spark side
    uses the degree-ordered orientation (out-degree bounded by
    O(sqrt(m))) — the oracle's naive a<b<c three-way join is the
    same count by id-ordering, feasible at oracle scale only."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return triangle_stats(edges)


@register(
    "part_khop_reachability",
    oracle=f"""
    WITH {_EDGES_CTE},
    src AS (SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT 3),
    h0 AS (SELECT node, 0 AS hop FROM src),
    f1 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN h0 ON e.src = h0.node
           WHERE e.dst NOT IN (SELECT node FROM h0)),
    h1 AS (SELECT * FROM h0 UNION ALL SELECT node, 1 FROM f1),
    f2 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN f1 ON e.src = f1.node
           WHERE e.dst NOT IN (SELECT node FROM h1)),
    h2 AS (SELECT * FROM h1 UNION ALL SELECT node, 2 FROM f2),
    f3 AS (SELECT DISTINCT e.dst AS node FROM edges e
           JOIN f2 ON e.src = f2.node
           WHERE e.dst NOT IN (SELECT node FROM h2)),
    h3 AS (SELECT * FROM h2 UNION ALL SELECT node, 3 FROM f3)
    SELECT hop, cast(count(*) AS BIGINT) AS n_nodes
    FROM h3 GROUP BY hop
    """,
)
def part_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability from the three lowest-id parts in the
    co-purchase graph, reported as nodes-per-hop — the frontier-join BFS
    whose per-hop cost is the frontier's edge boundary (visited set
    anti-joined out, lineage truncated per hop). The oracle unrolls the
    same three frontier expansions as chained CTEs."""
    from ..operators.graph import bfs_layers

    # the shared relation is already materialized — seeds + every hop
    # read the checkpoint, no per-query cache needed
    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = edges.select("src").union(edges.select("dst")).distinct()
    sources = nodes.orderBy("src").limit(3)
    layers = bfs_layers(edges, sources, max_hops=3)
    return layers.groupBy("hop").agg(F.count(F.lit(1)).alias("n_nodes"))


_PPR_STEP = """
    p{k} AS (
      SELECT n.node AS src,
             0.85 * coalesce(c.cin, 0.0) + 0.15 * coalesce(rs.restart, 0.0)
               AS rank
      FROM (
        SELECT src AS node FROM p{p}
        UNION SELECT e.dst FROM edges e JOIN p{p} r ON e.src = r.src
        UNION SELECT node FROM restart
      ) n
      LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / d.deg) AS cin
        FROM edges e JOIN p{p} r ON e.src = r.src
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) c ON c.node = n.node
      LEFT JOIN restart rs ON rs.node = n.node
      WHERE 0.85 * coalesce(c.cin, 0.0) + 0.15 * coalesce(rs.restart, 0.0) > 0
    )
"""


@register(
    "part_related_ppr",
    oracle=f"""
    WITH {_EDGES_CTE},
    restart AS (
      SELECT node, 1.0 / 3 AS restart FROM
        (SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT 3)
    ),
    p0 AS (SELECT node AS src, restart AS rank FROM restart),
    {_PPR_STEP.format(k=1, p=0)},
    {_PPR_STEP.format(k=2, p=1)},
    {_PPR_STEP.format(k=3, p=2)}
    SELECT src AS node, round(rank * 1000, 6) AS rank_x_1000
    FROM p3 WHERE round(rank * 1000, 6) > 0
    """,
)
def part_related_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 3-part seed set — 'parts related to
    these seeds' via a damped random walk with restart, the
    recommendation variant of the PageRank loop (teleport mass goes to
    the seeds, unreached nodes stay at zero and are absent). Scores
    scaled ×1000 before rounding (seed-local mass is small)."""
    from ..operators.graph import personalized_pagerank

    # the shared relation is already materialized — the seed selection
    # AND every walk iteration read the checkpoint, no per-query cache
    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = edges.select("src").union(edges.select("dst")).distinct()
    seeds = nodes.orderBy("src").limit(3)
    ranks = personalized_pagerank(edges, seeds, iterations=3, damping=0.85)
    return ranks.select(
        "node", F.round(F.col("rank") * 1000, 6).alias("rank_x_1000")
    ).filter(F.col("rank_x_1000") > 0)


@register(
    "part_copurchase_salton",
    oracle=f"""
    WITH {_EDGES_CTE},
    dw AS (
      SELECT src, weight FROM pairs
      UNION ALL SELECT dst AS src, weight FROM pairs
    ),
    wdeg AS (SELECT src, sum(weight) AS wdeg FROM dw GROUP BY src)
    SELECT p.src, p.dst, p.weight,
           round(p.weight / sqrt(a.wdeg * b.wdeg), 6) AS salton
    FROM pairs p
    JOIN wdeg a ON a.src = p.src
    JOIN wdeg b ON b.src = p.dst
    WHERE p.weight >= 2
    """,
)
def part_copurchase_salton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-normalized co-purchase similarity (Salton cosine on the
    bipartite projection): damps bestseller bias that raw co-counts
    recommend by. Weighted degrees via one aggregation; two degree
    lookups joined back; repeated-co-occurrence pairs only."""
    from ..operators.graph import salton_similarity

    edges = shared_copurchase_edges(spark, sf_dir)
    return salton_similarity(edges).filter(F.col("weight") >= 2)


def _kcore_oracle(k: int = 3, rounds: int = 12) -> str:
    """Unroll the bounded k-core peel as chained CTEs — the same trick the
    PageRank oracle uses for its fixed iterations. Both engines run the
    identical round count, so parity holds even on a graph that would
    need more rounds to fully converge (convergence on the test graphs is
    pinned in tests/test_graph.py, not assumed here)."""
    # every e{i} is referenced twice (degree agg + next round's probe) —
    # DuckDB INLINES plain CTEs, so without MATERIALIZED the chain expands
    # 2^rounds scans of lineitem (observed: fd exhaustion at 12 rounds)
    parts = [_EDGES_CTE]
    prev = "edges"
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    d{i} AS (SELECT src, count(*) AS c FROM {prev} GROUP BY src),
    kp{i} AS MATERIALIZED (SELECT src FROM d{i} WHERE c >= {k}),
    e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e
             JOIN kp{i} a ON e.src = a.src
             JOIN kp{i} b ON e.dst = b.src)"""
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT src AS node, cast(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY src
    """
    )


@register("part_copurchase_kcore", oracle=_kcore_oracle(k=3, rounds=12))
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph: the maximal subgraph where every
    part co-occurs with ≥3 surviving parts — the standard dense-region
    extractor (spam rings, bot cliques, head-of-catalog bundles) that
    degree thresholding alone cannot find, because removing one fringe
    node can un-qualify its neighbors transitively. Bounded 12-round peel
    (degree agg + two semi-joins per round, lineage cut per round); the
    oracle unrolls the identical rounds as chained CTEs."""
    from ..operators.graph import kcore

    edges = shared_copurchase_edges(spark, sf_dir)
    return kcore(edges, k=3, rounds=12)


def _lpa_step(k: int, p: int) -> str:
    return f"""
    s{k} AS MATERIALIZED (
      SELECT e.src AS node, l.label, count(*) AS c
      FROM edges e JOIN l{p} l ON e.dst = l.node
      GROUP BY e.src, l.label
    ),
    l{k} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM s{k}
      ) WHERE rn = 1
    )"""


@register(
    "part_copurchase_communities",
    oracle=f"""
    WITH
    items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
    pairs AS (
      SELECT a.i AS src, b.i AS dst, count(*) AS weight
      FROM items a JOIN items b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    p2 AS (SELECT src, dst FROM pairs WHERE weight >= 2),
    edges AS MATERIALIZED (SELECT src, dst FROM p2
              UNION ALL SELECT dst AS src, src AS dst FROM p2),
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_lpa_step(1, 0)},
    {_lpa_step(2, 1)},
    {_lpa_step(3, 2)}
    SELECT label AS community, cast(count(*) AS BIGINT) AS n_parts
    FROM l3 GROUP BY label
    """,
)
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via 3-round deterministic label propagation
    over the co-purchase graph — the bundle/segment discovery pass a
    merchandising or curriculum-grouping pipeline runs where connected
    components are too coarse (everything popular is one component) and
    modularity solvers are too order-sensitive to reproduce. Ties break
    to the smallest label and the round count is FIXED, so the oracle
    unrolls the identical recurrence (MATERIALIZED CTEs — inlined, the
    chained rounds replan exponentially). Output: surviving community
    label → member count."""
    from ..operators.graph import label_propagation

    edges = shared_copurchase_edges(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    labels = label_propagation(edges, rounds=3)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_parts")
    )


@register(
    "part_copurchase_adamic_adar",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                   FROM lineitem),
    pairs AS (
      SELECT a.i AS src, b.i AS dst, count(*) AS weight
      FROM items a JOIN items b ON a.g = b.g AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    p2 AS (SELECT src, dst FROM pairs WHERE weight >= 2),
    und AS MATERIALIZED (SELECT src, dst FROM p2
           UNION ALL SELECT dst, src FROM p2),
    deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
    wedge AS (
      SELECT e1.dst AS a, e2.dst AS b, e1.src AS z
      FROM und e1 JOIN und e2
        ON e1.src = e2.src AND e1.dst < e2.dst
    )
    SELECT w.a, w.b,
           cast(count(*) AS BIGINT)          AS n_common,
           round(sum(1.0 / ln(d.deg)), 6)    AS adamic_adar
    FROM wedge w JOIN deg d ON w.z = d.src
    GROUP BY w.a, w.b
    HAVING count(*) >= 2
    """,
)
def part_copurchase_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the sparse (weight >= 2)
    co-purchase graph: candidate pairs scored by sum(1/ln(deg(z))) over
    their common neighbors z — rare shared neighbors say more than hub
    ones, the property raw common-neighbor counts and Salton cosine both
    miss. Any common neighbor of two distinct nodes has degree >= 2, so
    ln(deg) is never zero by construction, not by guard.

    Plan shape: the wedge join (two directed-edge relations on the
    shared center) is the same degree-bounded fan-out the triangle
    count uses; degrees join back broadcast-small; >= 2 common
    neighbors keeps the candidate list in the interesting regime. One
    shuffle for wedges, one for the (a, b) aggregation.
    """
    edges = shared_copurchase_edges(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    und = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = und.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    e2 = und.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedge = e1.join(e2, on="z").where(F.col("a") < F.col("b"))
    return (
        wedge.join(deg.select(F.col("src").alias("z"), "deg"), on="z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum(1.0 / F.log(F.col("deg"))), 6).alias("adamic_adar"),
        )
        .where(F.col("n_common") >= 2)
    )


@register(
    "part_khop_size_fm_estimate",
    oracle=f"""
    WITH {_EDGES_CTE},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    m0 AS (
      SELECT node,
             CAST(pow(2, CAST(('0x' || substring(md5(CAST(node AS VARCHAR)),
                                         1, 15)) AS BIGINT) % 24)
                  AS BIGINT) AS mask
      FROM nodes
    ),
    s1 AS (SELECT e.src AS node, bit_or(m.mask) AS nmask
           FROM edges e JOIN m0 m ON e.dst = m.node GROUP BY e.src),
    m1 AS (SELECT m0.node, m0.mask | COALESCE(s1.nmask, 0) AS mask
           FROM m0 LEFT JOIN s1 USING (node)),
    s2 AS (SELECT e.src AS node, bit_or(m.mask) AS nmask
           FROM edges e JOIN m1 m ON e.dst = m.node GROUP BY e.src),
    m2 AS (SELECT m1.node, m1.mask | COALESCE(s2.nmask, 0) AS mask
           FROM m1 LEFT JOIN s2 USING (node))
    SELECT node, mask AS fm_mask,
           CAST(round(log2(CAST((~mask) & (mask + 1) AS DOUBLE))) AS INT)
             AS fm_r,
           round(pow(2, CAST(round(log2(CAST((~mask) & (mask + 1)
                                             AS DOUBLE))) AS INT))
                 / 0.77351, 4) AS nbh_estimate
    FROM m2
    """,
)
def part_khop_size_fm_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 2-hop neighborhood sizes over the co-purchase graph
    via single-register Flajolet-Martin bitmasks (HyperANF shape) — the
    constant-state twin of the exact `part_khop_reachability` BFS. Two
    rounds = two (join + bit_or groupBy) shuffles; register merge is
    associative so partials combine map-side, which is what makes the
    neighborhood function computable at web scale where exact per-node
    reachable sets are quadratic state. Deterministic (content-hashed
    bit positions), so the DuckDB oracle replays the same two unrolled
    rounds bit-for-bit."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return fm_neighborhood_sizes(edges, rounds=2, n_bits=24)


@register(
    "part_harmonic_centrality",
    oracle=f"""
    WITH {_EDGES_CTE},
    seeds AS (SELECT DISTINCT src AS s FROM edges ORDER BY s LIMIT 5),
    h0 AS (SELECT s, s AS node, 0 AS hop FROM seeds),
    f1 AS MATERIALIZED (
      SELECT DISTINCT h.s, e.dst AS node
      FROM h0 h JOIN edges e ON e.src = h.node
      WHERE NOT EXISTS (SELECT 1 FROM h0 v
                        WHERE v.s = h.s AND v.node = e.dst)),
    h1 AS MATERIALIZED (
      SELECT * FROM h0 UNION ALL SELECT s, node, 1 FROM f1),
    f2 AS MATERIALIZED (
      SELECT DISTINCT h.s, e.dst AS node
      FROM f1 h JOIN edges e ON e.src = h.node
      WHERE NOT EXISTS (SELECT 1 FROM h1 v
                        WHERE v.s = h.s AND v.node = e.dst)),
    h2 AS MATERIALIZED (
      SELECT * FROM h1 UNION ALL SELECT s, node, 2 FROM f2),
    f3 AS MATERIALIZED (
      SELECT DISTINCT h.s, e.dst AS node
      FROM f2 h JOIN edges e ON e.src = h.node
      WHERE NOT EXISTS (SELECT 1 FROM h2 v
                        WHERE v.s = h.s AND v.node = e.dst)),
    h3 AS (SELECT * FROM h2 UNION ALL SELECT s, node, 3 FROM f3)
    SELECT s AS source,
           CAST(count(*) FILTER (WHERE hop = 1) AS BIGINT) AS n_1hop,
           CAST(count(*) FILTER (WHERE hop = 2) AS BIGINT) AS n_2hop,
           CAST(count(*) FILTER (WHERE hop = 3) AS BIGINT) AS n_3hop,
           round(count(*) FILTER (WHERE hop = 1)
                 + count(*) FILTER (WHERE hop = 2) / 2.0
                 + count(*) FILTER (WHERE hop = 3) / 3.0, 6) AS harmonic_c3
    FROM h3 GROUP BY s
    """,
)
def part_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded harmonic centrality H(s) = Σ_{{v: 0<d(s,v)≤3}} 1/d(s,v)
    for the five lowest-id parts — the centrality that stays well-defined
    on disconnected graphs (unreachable nodes contribute zero instead of
    poisoning an average like closeness). Runs the labeled multi-source
    BFS (frontier keyed by (seed, node), visited-set anti-join per hop),
    then derives the score from the per-hop COUNTS (n₁ + n₂/2 + n₃/3) so
    the float result is a deterministic three-term expression, not an
    order-dependent sum. Per-hop cost is the frontiers' edge boundary —
    the bounded-seed-set shape that scales to huge graphs because state
    is |seeds| × reached, never all-pairs. The oracle unrolls the same
    three labeled expansions as MATERIALIZED CTEs."""
    from ..operators.graph import multi_source_bfs

    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = edges.select("src").union(edges.select("dst")).distinct()
    seeds = nodes.orderBy("src").limit(5)
    vis = multi_source_bfs(edges, seeds, max_hops=3)
    counts = vis.groupBy("s").agg(
        F.count(F.when(F.col("hop") == 1, F.lit(1))).alias("n1"),
        F.count(F.when(F.col("hop") == 2, F.lit(1))).alias("n2"),
        F.count(F.when(F.col("hop") == 3, F.lit(1))).alias("n3"),
    )
    return counts.select(
        F.col("s").alias("source"),
        F.col("n1").cast("long").alias("n_1hop"),
        F.col("n2").cast("long").alias("n_2hop"),
        F.col("n3").cast("long").alias("n_3hop"),
        F.round(
            F.col("n1") + F.col("n2") / 2.0 + F.col("n3") / 3.0, 6
        ).alias("harmonic_c3"),
    )


@register(
    "part_edge_triangle_support",
    oracle=f"""
    WITH {_EDGES_CTE},
    ce AS (SELECT src AS lo, dst AS hi FROM pairs WHERE weight >= 2),
    tri AS (
      SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
      FROM ce w1 JOIN ce w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
      JOIN ce bc ON bc.lo = w1.hi AND bc.hi = w2.hi
    ),
    credits AS (
      SELECT a AS u, b AS v FROM tri
      UNION ALL SELECT a, c FROM tri
      UNION ALL SELECT b, c FROM tri
    ),
    support AS (
      SELECT u, v, count(*) AS n_triangles
      FROM credits GROUP BY u, v
    )
    SELECT u, v,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(n_triangles + 2 AS BIGINT) AS max_truss_level
    FROM support
    """,
)
def part_edge_triangle_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-edge triangle support over the REPEAT co-purchase graph
    (weight ≥ 2 — the same signal filter as `part_copurchase_edges`:
    one-off co-occurrences are noise for cohesion) — the k-truss
    building block (an edge belongs to the k-truss only if its support
    ≥ k−2, so max_truss_level = support+2 upper-bounds each edge's
    truss membership before any peeling iteration). Triangles are
    enumerated once via the degree-ordered wedge join, then each
    triangle credits its three canonical edges and one groupBy counts
    support. Two joins + one aggregation; support aggregation is
    inherently O(3·triangles), which is why the weight filter matters —
    on the UNfiltered graph the credit shuffle carries 3T rows for a T
    that grows superlinearly with density. The full iterative k-truss
    peel would repeat this to fixpoint; the support relation computed
    here is the state it iterates on. Cited shape: triangle orientation
    as in `triangle_stats` (operators/graph.py:100)."""
    edges = shared_copurchase_edges(spark, sf_dir).filter(
        F.col("weight") >= 2
    )
    ce = edges.select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
    ).distinct().cache()
    # DEGREE-ordered orientation (same as triangle_stats): every edge
    # points from its (degree, id)-smaller endpoint, so per-node wedge
    # fan-out is bounded by O(sqrt(m)) — the id-ordered wedge join
    # measured 36s at sf0.1 on this hub-heavy graph; this form runs the
    # identical enumeration in ~4s. Output is orientation-independent.
    deg = (
        ce.select(F.col("lo").alias("v"))
        .unionAll(ce.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .cache()
    )
    e = ce.join(
        deg.select(F.col("v").alias("lo"), F.col("deg").alias("dl")),
        "lo",
    ).join(
        deg.select(F.col("v").alias("hi"), F.col("deg").alias("dh")),
        "hi",
    )
    fwd = F.struct("dl", "lo") < F.struct("dh", "hi")
    oriented = e.select(
        F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("o_lo"),
        F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("o_hi"),
    )
    # Oriented edge-iterator triangle enumeration (round 9, same rewrite
    # as triangle_stats): in the degree orientation every triangle
    # a→b, a→c, b→c surfaces EXACTLY once at its apex edge (a, b) as a
    # member c of N⁺(a) ∩ N⁺(b) — both out-lists O(sqrt m)-bounded.
    # One groupBy-apex exchange, two broadcast lookups, one
    # ``array_intersect`` + explode per oriented edge; no wedge-pair
    # rows are ever materialized and the closing-edge join disappears
    # (the intersection IS the closing test). At extreme m drop the
    # broadcast hints (adjacency totals m entries, the same order as
    # the closing relation the previous form broadcast) and AQE picks
    # the co-partitioned shuffle join.
    # cached: both broadcast lookups read it and their subtrees differ,
    # so ReusedExchange cannot dedup the double evaluation
    adj = oriented.groupBy("o_lo").agg(
        F.sort_array(F.collect_list("o_hi")).alias("_ns")
    ).cache()
    tri = (
        oriented.join(
            F.broadcast(adj.withColumnRenamed("_ns", "_nu")), "o_lo"
        )
        .join(
            F.broadcast(
                adj.select(
                    F.col("o_lo").alias("o_hi"), F.col("_ns").alias("_nv")
                )
            ),
            "o_hi",
        )
        .select(
            F.col("o_lo").alias("a"),
            F.col("o_hi").alias("b"),
            F.explode(F.array_intersect("_nu", "_nv")).alias("c"),
        )
    )
    # one explode per triangle row instead of a 3-way unionAll of
    # projections — the union form re-evaluated the triangle relation
    # once PER BRANCH (three times; only its exchanges were reused).
    # All three credits canonicalize via least/greatest: unlike the old
    # sorted wedge pairs, (b, c) here is ordered by the DAG orientation,
    # not by value.
    credits = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                ),
                F.struct(
                    F.least("a", "c").alias("u"),
                    F.greatest("a", "c").alias("v"),
                ),
                F.struct(
                    F.least("b", "c").alias("u"),
                    F.greatest("b", "c").alias("v"),
                ),
            )
        ).alias("_e")
    ).select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
    support = credits.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    return support.select(
        "u",
        "v",
        F.col("n_triangles").cast("long").alias("n_triangles"),
        (F.col("n_triangles") + 2).cast("long").alias("max_truss_level"),
    )
