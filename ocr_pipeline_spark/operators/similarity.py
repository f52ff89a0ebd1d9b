"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs both:

- ``brute_force_topk``: exact cosine top-k. O(queries × corpus) — the
  correctness baseline and the right tool when the query set is small
  (broadcast the queries, one scan of the corpus, no shuffle of the
  corpus side).
- ``ann_topk``: random-hyperplane LSH bucketing. Each row gets a bucket
  id from the sign pattern of dot products with ``n_planes`` fixed
  pseudo-random hyperplanes (md5-seeded constants → deterministic across
  runs, engines, cluster sizes). Candidates are same-bucket rows only, so
  the join is an equi-join on a short int key — at 10^12 rows this is the
  difference between a feasible shuffle and an O(N²) non-starter. Recall
  is tunable via n_planes (fewer planes → bigger buckets → higher recall,
  more compute); the pytest suite measures recall against the brute
  baseline.

All math is expression-based (zip_with/aggregate folds — JVM codegen, no
Python). Cosine folds are sequential and double-typed so the DuckDB oracle
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .clustering import KM_CELLS, KM_ITERS, kmeans_assign
from .hashing import md5_int, md5_int_py

__all__ = [
    "cosine",
    "brute_force_topk",
    "hyperplane_bucket",
    "ann_topk",
    "cosine_near_dup",
    "ivf_topk",
    "rp_project",
    "semantic_dedup",
    "EMBED_DIM",
    "hashed_embedding",
]

# Width of hashed_embedding's vectors. A power of two, so the token
# hash's low bits pick the index and the next bit up picks the sign.
EMBED_DIM = 16
# Width of the embeddings table's vectors.
VEC_DIM = 64
# Neighbours each top-k query returns.
TOP_K = 5
# ann_topk: ANN_TABLES hash tables of ANN_PLANES sign bits each; table t
# draws its planes with seed 1000 * t.
ANN_PLANES = 3
ANN_TABLES = 6
# ivf_topk's md5 codebook size and the cells each query probes.
IVF_CELLS = 16
IVF_PROBE = 4
# cosine_near_dup's sign bits per bucket.
NEAR_DUP_PLANES = 4
# rp_project: VEC_DIM -> RP_DIM onto planes drawn with seed RP_SEED.
RP_DIM = 16
RP_SEED = 7


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — identical op order in the DuckDB
    oracle (list_reduce) gives bit-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    a, b = _dbl(a), _dbl(b)
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _sim4(a: Column, b: Column) -> Column:
    """round(cosine, 4) with NaN→0: a zero embedding makes 0.0/0.0 = NaN,
    and NaN sorts ABOVE real values under desc — it would win every
    top-k. nanvl wraps the single computed value (no fold duplication,
    unlike a when/otherwise on the denominator)."""
    return F.nanvl(F.round(cosine(a, b), 4), F.lit(0.0))


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = TOP_K,
) -> DataFrame:
    """Exact top-k neighbors for each query id.

    Plan shape: queries (tiny) are broadcast; the corpus is scanned once;
    ranking is a window over query_id — the only shuffle is O(Q × N) rows
    of (ids, sim), never the vectors themselves past the join.
    Ranking uses the ROUNDED similarity with id tie-break so the result is
    reproducible across engines and float paths.
    """
    q = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    sims = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim4(F.col("qvec"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _plane_constants(n_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is derived
    from md5(f"{seed}_{p}_{d}") mapped to [-1, 1). Portable constants —
    no RNG state, no platform dependence."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = md5_int_py(f"{seed}_{p}_{d}", 15)
            row.append(h / float(1 << 59) - 1.0)
        planes.append(row)
    return planes


def hyperplane_bucket(
    vec_col: Column, n_planes: int, dim: int, seed: int = 0
) -> Column:
    """Sign-pattern bucket id in [0, 2^n_planes) as an int column."""
    planes = _plane_constants(n_planes, dim, seed)
    v = _dbl(vec_col)
    bucket = F.lit(0)
    for p, comps in enumerate(planes):
        plane = F.array(*[F.lit(c) for c in comps])
        bucket = bucket + F.when(_dot(v, plane) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
    return bucket


def _centroids(n_cells: int) -> list[list[float]]:
    """Deterministic pseudo-centroids: md5-derived components, L2-normalized
    — the stand-in for a k-means codebook (a real deploy trains centroids
    on a sample and broadcasts them; the operator shape is identical)."""
    cells = []
    for c in range(n_cells):
        row = []
        for d in range(VEC_DIM):
            h = md5_int_py(f"ivf_0_{c}_{d}", 15)
            row.append(h / float(1 << 59) - 1.0)
        norm = sum(x * x for x in row) ** 0.5
        cells.append([x / norm for x in row])
    return cells


def _cell_scores(vec: Column, cents: list[list[float]]) -> Column:
    """array<struct<score,cell>> of dot products against every centroid."""
    v = _dbl(vec)
    return F.array(
        *[
            F.struct(
                _dot(v, F.array(*[F.lit(x) for x in c])).alias("score"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(cents)
        ]
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = TOP_K,
    n_probe: int = IVF_PROBE,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus rows are assigned to
    their nearest centroid cell (one scan, no shuffle of vectors); each
    query probes its ``n_probe`` nearest cells and exact-cosine re-ranks
    only those cells' rows.

    The scale shape at 10^12 rows: the cell id is a small int — write the
    corpus partitioned by cell and a query touches n_probe/IVF_CELLS of the
    data (partition pruning does the skipping). Recall is tunable via
    n_probe; the pytest suite measures it against brute force.

    ``centroids`` overrides the default md5-derived codebook with a
    TRAINED one (clustering.kmeans_centroids, rescaled to floats) —
    the driver oracle pins the md5 default; bench.py measures the
    trained-codebook recall gain."""
    cents = (
        [list(map(float, c)) for c in centroids]
        if centroids is not None
        else _centroids(IVF_CELLS)
    )
    if n_probe > len(cents):
        raise ValueError(
            f"n_probe {n_probe} exceeds the {len(cents)}-cell codebook"
        )
    scores = _cell_scores(F.col("embedding"), cents)
    # nearest cell = max by (score, cell) — array_max on struct orders by
    # the first field with the int as deterministic tie-break
    corpus = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        # coalesce: non-nullable join key (see cosine_near_dup note)
        F.coalesce(F.array_max(scores)["cell"], F.lit(-1)).alias("cell"),
    )
    top_cells = F.slice(
        F.reverse(F.array_sort(scores)), 1, n_probe
    )  # descending by score
    q = (
        emb.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            F.explode(F.transform(top_cells, lambda s: s["cell"])).alias(
                "q_cell"
            ),
        )
    )
    sims = corpus.join(
        F.broadcast(q),
        (F.col("cell") == F.col("q_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _sim4(F.col("qvec"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Self-join restricted to rows sharing a hyperplane sign-bucket: an
    equi-join on a small int key instead of the O(N²) cross product —
    with 2^NEAR_DUP_PLANES uniform buckets the pair count drops by that
    factor, and the bucket key shuffles evenly by construction.
    Candidates are verified with exact cosine ≥ threshold. Recall trades
    off via the plane count exactly as in ann_topk (single-table here:
    near-dup pairs are overwhelmingly same-bucket because near-parallel
    vectors agree on most hyperplane signs)."""
    # coalesce → non-nullable key: stops the join's inferred isnotnull
    # filter from being pushed below the projection with the whole
    # hyperplane expression inlined (evaluated twice per row otherwise)
    keyed = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.coalesce(
            hyperplane_bucket(F.col("embedding"), NEAR_DUP_PLANES, VEC_DIM),
            F.lit(-1),
        ).alias("bucket"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        _sim4(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= threshold)


def ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = TOP_K,
) -> DataFrame:
    """Multi-table LSH approximate top-k (classic Indyk-Motwani shape):
    ``ANN_TABLES`` independent hash tables of ``ANN_PLANES`` sign bits each;
    a row is a candidate if it shares the query's bucket in ANY table.

    Recall ≈ 1 - (1 - p^b)^L where p is the per-plane agreement
    probability of true neighbors — b (ANN_PLANES) sets bucket size and
    L (ANN_TABLES) recall. The candidate join is an equi-join on
    (table_idx, bucket): with uniform hash buckets, shuffle volume is
    L × N short rows instead of an O(N²) comparison — the scale path at
    10^12 rows. Exact cosine re-ranks the candidates.
    """
    table_keys = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_idx"),
                hyperplane_bucket(
                    F.col("embedding"), ANN_PLANES, VEC_DIM, 1000 * t
                ).alias("bucket"),
            )
            for t in range(ANN_TABLES)
        ]
    )
    keyed = emb.select(
        F.col("vec_id"), F.col("embedding"), F.explode(table_keys).alias("tk")
    ).select("vec_id", "embedding", "tk.*")
    q = keyed.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("table_idx").alias("q_table"),
        F.col("bucket").alias("q_bucket"),
    )
    sims = (
        keyed.join(
            F.broadcast(q),
            (F.col("table_idx") == F.col("q_table"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        # cosine BEFORE the dedup: the value is identical for every
        # table collision of a (query, neighbor) pair, so recomputing it
        # per collision (≤ ANN_TABLES×, map-side) is far cheaper than
        # carrying both embeddings through the dropDuplicates exchange —
        # only (query_id, neighbor_id, cos_sim) shorts ever shuffle
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _sim4(F.col("qvec"), F.col("embedding")).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])  # candidate in ≥1 table
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def rp_project(df: DataFrame) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    project each embedding onto ``RP_DIM`` deterministic md5-derived
    hyperplanes — the cheap front half of a two-stage ANN (search the
    16-d sketch, re-rank survivors in full dimension), and the standard
    4x shrink for embedding storage/shuffle budgets.

    Output: (vec_id, rp array<double>), components rounded to
    4 decimals (round-then-emit, the cos_sim recipe — the
    fold itself is sequence-identical to the DuckDB oracle, rounding
    only normalizes the printed tail).

    Scale shape: entirely scan-local — no shuffle, no UDF; RP_DIM
    sequential-fold dot products per row against broadcast literal
    planes (JVM codegen). The cast-to-double projection is staged once
    (``_v``) so Catalyst's missing logical CSE cannot re-cast the
    array per component (CLAUDE.md rule; CollapseProject preserves the
    split for non-cheap multi-referenced producers).
    """
    planes = _plane_constants(RP_DIM, VEC_DIM, RP_SEED)
    staged = df.select("vec_id", _dbl(F.col("embedding")).alias("_v"))
    comps = [
        # + 0.0 folds IEEE -0.0 to +0.0 (a component that rounds to
        # zero from below would otherwise print/hash differently
        # across engines); exact for every other value
        F.round(_dot(F.col("_v"), F.array(*[F.lit(c) for c in row])), 4)
        + F.lit(0.0)
        for row in planes
    ]
    return staged.select("vec_id", F.array(*comps).alias("rp"))


def semantic_dedup(
    emb: DataFrame,
    k: int = KM_CELLS,
    iters: int = KM_ITERS,
    threshold: float = 0.7,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then inside each
    cluster mark a row as a duplicate iff some SMALLER-ID row in the
    same cell has exact cosine >= threshold to it. Output:
    (vec_id, cell int, keep boolean), one row per input row.

    Keep rule: the paper keeps the point farthest from the cluster
    centroid inside each epsilon-ball; this uses greedy smallest-id
    instead — "drop iff an earlier same-cell row is within epsilon" —
    which is order-free, tie-stable under any partitioning, and
    engine-portable (no float centroid distances to tiebreak on). The
    clustering itself is the exact fixed-point trainer
    (clustering.kmeans_assign), so cells — and therefore the whole
    keep/drop decision — are value-identical across engines and
    cluster sizes; the cosine is the sequential double fold rounded to
    4 decimals (the cos_sim recipe).

    Scale shape: the quadratic term is bounded per cluster — SemDeDup's
    entire point; pick k so cells are ~corpus/k (the paper runs ~11k
    clusters over 100M+ embeddings). The candidate join is an equi-join
    on the int cell id; the fixed-width vector (dim doubles) crosses
    that one shuffle by necessity (the cosine is evaluated where the
    pair lands) — no text/payload ever does. A skewed hot cell hurts
    quadratically: raise k, or pre-split hot cells with
    hyperplane_bucket as a sub-key, before corpus-scale runs. Training
    cost is kmeans_centroids' bounded k x dim driver collect per round.
    """
    assign = kmeans_assign(emb, k, iters)
    # coalesce -> non-nullable cell: keeps the self-join's inferred
    # isnotnull from pushing the assignment expression tree into a
    # per-side filter (the cosine_near_dup bucket precedent).
    # localCheckpoint: keyed is referenced THREE times (both self-join
    # sides + the final left join) and Spark reuses none of it (0
    # ReusedExchange, 6 corpus scans measured) — materialize the
    # (id, cell, vector) projection once (the lm.py pair-stream
    # precedent; kmeans' quantized table is already checkpointed the
    # same way).
    keyed = (
        emb.select("vec_id", "embedding")
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("_id"),
            F.coalesce(F.col("cell"), F.lit(-1)).alias("cell"),
            _dbl(F.col("embedding")).alias("_v"),
        )
        .localCheckpoint(eager=True)
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(_sim4(F.col("a._v"), F.col("b._v")) >= threshold)
        .select(F.col("b._id").alias("_dropped_id"))
        .distinct()
    )
    return (
        keyed.join(dropped, keyed["_id"] == dropped["_dropped_id"], "left")
        .select(
            F.col("_id").alias("vec_id"),
            F.col("cell"),
            F.col("_dropped_id").isNull().alias("keep"),
        )
    )


def hashed_embedding(docs: DataFrame) -> DataFrame:
    """Feature-hashing document embeddings (Weinberger et al. 2009,
    ICML, "Feature Hashing for Large Scale Multitask Learning") — the
    deterministic, training-free featurizer that lets the embedding
    layer (ANN top-k, SemDeDup, near-dup cosine) run on TEXT corpora
    with no model in the loop: token t adds sign(t) at index(t), where
    index = h48(t) mod EMBED_DIM and sign = parity of h48(t) div
    EMBED_DIM (the bit just above the index bits of the one 48-bit
    md5-prefix hash, hashing.md5_int), then the count vector is
    L2-normalized.

    Output: (doc_id, n_toks, embed) with embed the ','-joined '%.4f'
    string of the normalized vector — packed per the house array rule
    (the driver canonicalizer cannot hash list columns); unpack with
    ``transform(split(embed, ','), x -> cast(x as double))`` to feed
    cosine/ANN operators. An all-cancelled (zero-norm) vector packs as
    EMBED_DIM zeros rather than NaNs.

    Cross-engine float recipe: components are INTEGER sign-counts
    (exact); norm = sqrt of their integer square-sum and the division
    are single deterministic IEEE ops; round(.,4) then +0.0 (-0.0
    normalization) then '%.4f' — the media_features_packed formula.

    Scale shape: entirely SCAN-LOCAL — one staged hash-array projection
    (the CSE rule: the array is referenced 2*EMBED_DIM times by the
    interpreted higher-order filters), one staged component projection,
    no shuffle, no Python. Cost is O(EMBED_DIM * tokens) per doc.

    DuckDB oracle: `q: sim_hash_embed` (same bit-split, same formula).
    """
    from .textstats import tokens

    staged = docs.select(
        "doc_id",
        F.transform(tokens(F.col("text")), lambda t: md5_int(t)).alias("_h48"),
    )
    comps = staged.select(
        "doc_id",
        F.size("_h48").cast("long").alias("n_toks"),
        *[
            (
                F.expr(
                    f"size(filter(_h48, h -> h % {EMBED_DIM} = {i}"
                    f" AND (h div {EMBED_DIM}) % 2 = 1))"
                )
                - F.expr(
                    f"size(filter(_h48, h -> h % {EMBED_DIM} = {i}"
                    f" AND (h div {EMBED_DIM}) % 2 = 0))"
                )
            )
            .cast("long")
            .alias(f"_v{i}")
            for i in range(EMBED_DIM)
        ],
    )
    sq = " + ".join(f"_v{i} * _v{i}" for i in range(EMBED_DIM))
    normed = comps.withColumn("_norm", F.expr(f"sqrt({sq})"))
    embed = F.concat_ws(
        ",",
        *[
            F.when(F.col("_norm") == 0, F.lit("0.0000")).otherwise(
                F.format_string(
                    "%.4f",
                    F.round(F.col(f"_v{i}") / F.col("_norm"), 4) + F.lit(0.0),
                )
            )
            for i in range(EMBED_DIM)
        ],
    )
    return normed.select("doc_id", "n_toks", embed.alias("embed"))
