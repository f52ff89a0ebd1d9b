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
  3-10 rounds rank-order web graphs). ``pagerank_until`` is the
  adaptive form — the same per-round plan plus a 1-row max |Δrank|
  aggregate per round, stopping at the exact integer fixed point
  (real crawls do not know n_iters a priori).

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
    "pagerank_until",
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


def pagerank(
    edges: DataFrame, n_iters: int = PAGERANK_ITERS, damping_bp: int = DAMPING_BP
) -> DataFrame:
    """Run ``n_iters`` exact PageRank iterations over an (src, dst)
    bigint edge list.

    Output: (node, rank_bp) — one row per node that appears as src or
    dst; rank_bp is the fixed-point rank after the last iteration
    (uniform start = 10000). Deterministic, bit-identical across
    engines and partitionings.
    """
    if not 0 <= damping_bp <= SCALE_BP:
        raise ValueError(f"damping_bp must be in [0, {SCALE_BP}]")
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    nodes, deg_edges = _prepare(edges)
    ranks = nodes.select("node", F.lit(SCALE_BP).cast("long").alias("rank_bp"))
    for _ in range(n_iters):
        ranks = _step(nodes, deg_edges, ranks, damping_bp)
    return ranks


def _prepare(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(nodes, degree-annotated edges) — the per-run fixed inputs.
    deg_edges is materialized once: iterations join a fixed
    (src, dst, outdeg) bigint triple, not the derivation tree."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg_edges = edges.join(
        out_degrees(edges).withColumnRenamed("node", "src"), "src"
    ).localCheckpoint(eager=False)
    return nodes, deg_edges


def _step(
    nodes: DataFrame,
    deg_edges: DataFrame,
    ranks: DataFrame,
    damping_bp: int,
) -> DataFrame:
    """One exact PageRank iteration: one equi-join on src, one shuffle
    (groupBy dst), lineage truncated per round (localCheckpoint)."""
    contrib = (
        deg_edges.join(
            ranks.withColumnRenamed("node", "src"), "src"
        )
        .select("dst", F.expr("rank_bp div outdeg").alias("c"))
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("c").alias("in_bp"))
    )
    base_bp = SCALE_BP - damping_bp
    return (
        nodes.join(contrib, "node", "left")
        .select(
            "node",
            (
                F.lit(base_bp).cast("long")
                + F.expr(
                    f"({damping_bp} * coalesce(in_bp, 0))"
                    f" div {SCALE_BP}"
                )
            ).alias("rank_bp"),
        )
        .localCheckpoint(eager=False)
    )


def pagerank_until(
    edges: DataFrame,
    eps_bp: int = 0,
    max_iters: int = 100,
) -> tuple[DataFrame, int]:
    """Adaptive-convergence PageRank: iterate until
    ``max |rank_t+1 - rank_t| <= eps_bp`` (a real crawl does not know
    n_iters a priori). Returns (ranks, rounds_run) where ranks equals
    ``pagerank(edges, n_iters=rounds_run)`` bit-for-bit.

    The convergence probe is a 1-row driver aggregate per round
    (bounded collect, the kmeans/bpe precedent); each round's plan is
    identical to ``pagerank``'s. Exact integer arithmetic means the
    fixed point is EXACT: with eps_bp=0 the loop stops when an
    iteration changes no rank at all — termination is guaranteed
    (DAMPING_BP < 10000) because the integer map is a contraction
    (|Δ| shrinks by at least the damping factor per round, and
    truncating division only loses mass). ``max_iters`` is the loud
    backstop (the dup_clusters precedent): exceeding it raises rather
    than silently returning an unconverged table.
    """
    if eps_bp < 0:
        raise ValueError(f"eps_bp must be >= 0, got {eps_bp}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    delta = None
    nodes, deg_edges = _prepare(edges)
    ranks = nodes.select(
        "node", F.lit(SCALE_BP).cast("long").alias("rank_bp")
    ).localCheckpoint(eager=False)
    for rounds in range(1, max_iters + 1):
        nxt = _step(nodes, deg_edges, ranks, DAMPING_BP)
        delta = (
            nxt.join(
                ranks.withColumnRenamed("rank_bp", "prev_bp"), "node"
            )
            .agg(
                F.max(F.abs(F.col("rank_bp") - F.col("prev_bp"))).alias("d")
            )
            .first()["d"]
        )
        ranks = nxt
        if delta is None or delta <= eps_bp:
            return ranks, rounds
    raise RuntimeError(
        f"pagerank_until did not reach max |delta| <= {eps_bp} bp in "
        f"{max_iters} rounds (last delta {delta}); raise max_iters or eps_bp"
    )


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
