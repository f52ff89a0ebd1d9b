"""Fixed-point distributed PageRank — link-graph centrality for corpus
curation (rank crawl frontiers, weight domains by authority, surface
hub pages whose text is usually boilerplate).

Reference analogy: the reference pipeline treats every document
independently; corpus curation at web scale does not — which pages are
worth extracting/keeping is itself a graph computation over the link
structure (the original use of PageRank: Page et al., "The PageRank
citation ranking", 1999).

Engine-portability: the usual float PageRank cannot be value-checked
across engines (sum order changes low bits every run). This is the
exact-arithmetic variant, in basis points (the k-means/classifier
precedent):

    rank_0(v)   = 10000                                  (uniform)
    rank_t+1(v) = (10000 - d_bp)
                + (d_bp * Σ_{u→v} (rank_t(u) div outdeg(u))) div 10000

with damping d_bp = 8500 and EDGE-MULTIPLICITY out-degrees (a page
linked twice receives two contributions — the weighted random surfer).
Every operation is bigint; both engines produce bit-identical ranks at
every iteration. The div-per-edge floor leaks a little rank mass
(< outdeg ulps per node per round) — documented, deterministic, and
irrelevant to the ordering use cases; dangling nodes (no out-edges)
simply stop forwarding mass, the standard simplification.

Scale shape (10^10+ edges):
- the edge list is the big table and it is never re-derived: callers
  pass (src, dst) once; each iteration joins it with the CURRENT rank
  table on src — an equi-join moving (node-id, rank) bigint pairs only.
- out-degrees are computed once, joined into the edge list once, and
  the degree-annotated edges are lazily localCheckpointed: iterations
  re-scan a materialized bigint triple (src, dst, outdeg), not the
  derivation tree (no logical CSE; the dd_dup_clusters precedent).
- each iteration is one shuffle (groupBy dst); ranks localCheckpoint
  per round so the plan does not grow with n_iters (lineage-truncation
  precedent: dedup.connected_components).
- n_iters is a fixed small constant (PageRank converges geometrically;
  3-10 rounds rank-order web graphs).

DuckDB oracle: ``g_pagerank`` in __spark_entry__.py unrolls the same
iterations as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "DAMPING_BP",
    "PAGERANK_ITERS",
    "SCALE_BP",
    "pagerank",
    "out_degrees",
    "connected_components",
    "degree_distribution",
]

SCALE_BP = 10_000
# Default PageRank run: PAGERANK_ITERS rounds at damping DAMPING_BP.
DAMPING_BP = 8500
PAGERANK_ITERS = 3


def out_degrees(edges: DataFrame) -> DataFrame:
    """(node, outdeg) with edge multiplicity — the random-surfer weight
    denominator."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


def pagerank(edges: DataFrame, n_iters: int = PAGERANK_ITERS) -> DataFrame:
    """Run ``n_iters`` exact PageRank iterations over an (src, dst)
    bigint edge list.

    Output: (node, rank_bp) — one row per node that appears as src or
    dst; rank_bp is the fixed-point rank after the last iteration
    (uniform start = 10000). Deterministic, bit-identical across
    engines and partitionings.
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # materialized once: iterations join a fixed (src, dst, outdeg)
    # bigint triple, not the derivation tree
    deg_edges = edges.join(
        out_degrees(edges).withColumnRenamed("node", "src"), "src"
    ).localCheckpoint(eager=False)
    base_bp = SCALE_BP - DAMPING_BP
    ranks = nodes.select("node", F.lit(SCALE_BP).cast("long").alias("rank_bp"))
    for _ in range(n_iters):
        # one equi-join on src, one shuffle (groupBy dst), lineage
        # truncated per round
        contrib = (
            deg_edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select("dst", F.expr("rank_bp div outdeg").alias("c"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("in_bp"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base_bp).cast("long")
                    + F.expr(
                        f"({DAMPING_BP} * coalesce(in_bp, 0))"
                        f" div {SCALE_BP}"
                    )
                ).alias("rank_bp"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected graph given as (src, dst)
    edge rows — the general form of the dedup layer's cluster
    assignment (operators/dedup.py:dup_clusters is the underlying
    hash-min label propagation with pointer jumping: O(log diameter)
    rounds, per-round localCheckpoint lineage truncation, and its
    default max_iter and warning). Every node converges to its
    component's minimum node id.

    Output: (node, component) for every node incident to an edge.
    Classic uses over the page graph: mirror-site detection (a
    canonical-url component = one logical site), crawl-frontier
    island analysis, and the site-level collapse that runs before
    per-domain mixing caps.
    """
    from .dedup import dup_clusters

    pairs = edges.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    return dup_clusters(pairs).select(
        F.col("doc_id").alias("node"),
        F.col("cluster_id").alias("component"),
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree distribution of the link graph — the first sanity plot of
    any crawl (a power-law tail is expected; a spike at some exact
    degree is a template/bot signature): for each (direction, degree),
    how many nodes have it.

    Output: (direction 'in'|'out', degree, n_nodes) — at most
    2 x |distinct degrees| rows.

    Scale shape: two count aggregations on single id columns (map-side
    partials) + one tiny recount per degree; nothing else moves.
    """
    outd = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit("out").alias("direction"), "degree", "n_nodes")
    )
    ind = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.lit("in").alias("direction"), "degree", "n_nodes")
    )
    return outd.unionByName(ind).select(
        "direction",
        F.col("degree").cast("long").alias("degree"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
    )
