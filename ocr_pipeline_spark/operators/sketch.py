"""Deterministic KMV (k-minimum-values) distinct-count sketch.

Cardinality estimation is a staple of corpus analytics (distinct tokens
per source, distinct urls per domain) — but the built-in estimators
(Spark's HyperLogLog++ ``approx_count_distinct``, DuckDB's
``approx_count_distinct``) are engine-specific: same data, different
estimates, no cross-engine value check. This sketch is the
engine-portable alternative: hash every distinct value with the md5
recipe shared by the whole engine, keep the k smallest hashes, estimate

    N̂ = (k - 1) · P div h_(k)

where h_(k) is the k-th smallest hash and P = 2^48 the hash range (Beyer
et al., "On synopses for distinct-value estimation under multiset
operations", SIGMOD'07). Integer/bigint arithmetic end to end, including
the final floor quotient — bit-identical across engines, so the DuckDB
oracle checks VALUES, not just shape.

Scale + mergeability: the per-group state is k bigints, built by
map-side partial aggregation on (group, hash) then a k-smallest
selection; two sketches merge as the k smallest of their union
(distributive), so partitions / increments / cluster nodes combine
without rescanning — the property that makes a sketch a sketch.
Relative error ≈ 1/√(k−2) (~10% at k=128).

Groups with < k distinct values fall back to their exact distinct count
(the sketch holds ALL their hashes — the estimate would be biased, the
exact count is free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .hashing import md5_int, md5_int_py

# Hash range of md5_int (first 12 md5 hex chars → [0, 2^48)).
HASH_RANGE = 1 << 48
# Count-min layout: CMS_DEPTH hash rows of CMS_WIDTH cells each.
CMS_DEPTH = 4
CMS_WIDTH = 256

__all__ = [
    "cms_estimate",
    "cms_state",
    "hist_quantiles",
    "kmv_distinct",
    "kmv_state",
    "kmv_from_state",
    "CMS_DEPTH",
    "CMS_WIDTH",
    "HASH_RANGE",
    "kmv_set_estimates",
]


def kmv_state(df: DataFrame, group_col: str, value_col: str, k: int = 128) -> DataFrame:
    """The sketch STATE: per group, the k smallest distinct value hashes
    as rows (grp, h). This is what you persist for incremental
    maintenance — states merge as ``kmv_from_state(a.union(b), k)``.

    NULL values are excluded (a NULL is not a value; and NULL ordering
    differs across engines, so letting it into the top-k would both bias
    the estimate and break oracle parity).

    Scale shape: the value hashes scan-local and only (grp, 48-bit hash)
    rows move; dedup is a skew-free groupBy on (grp, h); the k-smallest
    selection runs FIRST per (grp, input-partition) — bounded partitions,
    no single-task hotspot — and the global per-group selection then
    sorts at most k·num_partitions rows per group."""
    hashes = (
        df.select(
            F.col(group_col).alias("grp"),
            md5_int(F.col(value_col).cast("string")).alias("h"),
        )
        .filter(F.col("h").isNotNull())
        .groupBy("grp", "h")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    local_w = Window.partitionBy("grp", F.spark_partition_id()).orderBy("h")
    pruned = (
        hashes.withColumn("rn", F.row_number().over(local_w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    global_w = Window.partitionBy("grp").orderBy("h")
    return (
        pruned.withColumn("rn", F.row_number().over(global_w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_from_state(state: DataFrame, k: int = 128) -> DataFrame:
    """State rows → (grp, n_hashes, kth_hash, est_distinct). Accepts a
    union of states (re-selects the k smallest first — the sketch merge).

    The estimate is an INTEGER floor quotient, (k−1)·2^48 div h_(k) —
    bigint arithmetic end to end, genuinely bit-identical across engines
    (a rounded double here would hang parity on two engines' double→
    decimal rounding rules)."""
    # overlapping increments contribute the SAME hash from both states —
    # KMV merges on distinct hashes, or the k-th rank is reached early
    # and the estimate inflates
    state = state.dropDuplicates(["grp", "h"])
    w = Window.partitionBy("grp").orderBy("h")
    topk = (
        state.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    per_grp = topk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("n_hashes") < k,
        F.col("n_hashes"),  # exact: the sketch saw every distinct value
    ).otherwise(
        F.expr(
            f"CAST({k - 1} AS BIGINT) * CAST({HASH_RANGE} AS BIGINT)"
            " div greatest(kth_hash, CAST(1 AS BIGINT))"
        )
    )
    return per_grp.select(
        "grp",
        "n_hashes",
        "kth_hash",
        est.cast("long").alias("est_distinct"),
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """Per-group distinct-count estimate:
    (group, n_hashes, kth_hash, est_distinct). One-shot composition of
    ``kmv_state`` + ``kmv_from_state`` (see both for the scale and
    parity contracts)."""
    out = kmv_from_state(kmv_state(df, group_col, value_col, k), k)
    return out.withColumnRenamed("grp", group_col)


def cms_state(df: DataFrame, value_col: str) -> DataFrame:
    """Count-min sketch STATE over a value stream: (row_idx, col_idx,
    cnt) — CMS_DEPTH independent hash rows, each bucketing every value into
    ``CMS_WIDTH`` columns (Cormode & Muthukrishnan 2005). md5-derived row
    salts so any engine regenerates the same layout; bigint counts; the
    only shuffle is a groupBy on (row_idx, col_idx) — at most
    CMS_DEPTH×CMS_WIDTH cells, map-side partial aggregation collapses the
    stream before it moves.

    States merge by cellwise addition (``groupBy(row, col).sum`` over a
    union) — increments / partitions / days combine without rescans.
    NULL values are excluded (not a value; parity rule).

    Perf (r4): values are COUNTED first (one groupBy on the short value
    itself, map-side combinable), then the CMS_DEPTH md5 salts are computed
    once per DISTINCT value and the cells weighted by the count — on a
    Zipfian token stream that is ~100× less hashing than salting every
    occurrence (a cell count is the same sum either way). Costs one
    extra tiny shuffle of (value, count) pairs; the md5 work drops from
    depth×occurrences to depth×vocabulary."""
    counts = (
        df.select(F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    rows = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_idx"),
                        (
                            md5_int(F.concat(F.lit(f"cms{r}_"), F.col("v")))
                            % F.lit(CMS_WIDTH)
                        ).alias("col_idx"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("c"),
        "_n",
    )
    return (
        rows.groupBy("c.row_idx", "c.col_idx")
        .agg(F.sum("_n").cast("long").alias("cnt"))
    )


def cms_estimate(state: DataFrame, queries: list[str]) -> DataFrame:
    """Point estimates from a CMS state for the queried values:
    est(v) = min over rows of cnt[row][hash_row(v)] — an upper bound on
    the true count, within eN/CMS_WIDTH with probability
    1 - (1/2)^CMS_DEPTH.
    Output: (value, est). The query list is a small driver-side literal
    (the sketch's point-lookup API); missing cells count 0."""
    spark = state.sparkSession
    cells = [
        (v, r, md5_int_py(f"cms{r}_{v}") % CMS_WIDTH)
        for v in queries
        for r in range(CMS_DEPTH)
    ]
    probes = spark.createDataFrame(
        cells, "value string, row_idx int, col_idx int"
    )
    return (
        probes.join(state, ["row_idx", "col_idx"], "left")
        .groupBy("value")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(
                "est"
            )
        )
    )


def hist_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bins: int = 64,
    ps_bp: tuple[int, ...] = (5000, 9000, 9900),
) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles — the deterministic,
    engine-portable alternative to ``percentile_approx`` (Spark) /
    ``approx_quantile`` (DuckDB), whose sketches are engine-specific and
    uncheckable across engines (same reason KMV exists beside HLL++).
    Every distributed profiler's quantile column is some variant of this:
    bucket the value space, count per bucket, read the quantile off the
    cumulative histogram.

    Integer math end to end: per-group bounds (lo, hi) from a pre-scan,
    bin width w = (hi − lo + bins) div bins (ceil — DIVIDE-first, no
    span×bins multiply to overflow; same hazard class the Z-order
    quantizer handles in layout.py), bin = (v − lo) div w ∈ [0, bins),
    and quantile-at-p (p in basis points) = lo + b_p·w where b_p is the
    first bin whose cumulative count reaches ceil(p·n/10⁴) — compared as
    cum·10⁴ ≥ p·n so no ceil/float appears. Estimates are bin LOWER
    bounds: error ≤ w, exact when the group's span < bins. NULLs are
    excluded (not a value; parity rule).

    Output: (group, n, lo_value, bin_width, est_p{p/100:g} per p) —
    all bigint, value-checked by the DuckDB oracle.

    Scale + mergeability: the value column scans pruned; the only
    shuffles carry (grp, min/max partials) then (grp, bin, count) —
    ≤ ``bins`` cells per group after map-side combine. States merge by
    cellwise addition under FIXED (lo, w), so partitions / days /
    cluster nodes combine without rescanning; re-binning is only needed
    when merged bounds widen (the standard fixed-range histogram
    contract). The bounds join is a broadcast (one row per group)."""
    if bins < 2:
        raise ValueError(f"need bins >= 2: {bins}")
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("v"),
    ).filter(F.col("v").isNotNull())
    bounds = vals.groupBy("grp").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = vals.join(F.broadcast(bounds), "grp").select(
        "grp",
        "lo",
        F.expr(f"(hi - lo + {bins}) div {bins}").alias("w"),
        "v",
    ).select(
        "grp", "lo", "w", F.expr("(v - lo) div w").alias("bin")
    )
    state = binned.groupBy("grp", "lo", "w", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum_w = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("grp")
    cdf = state.select(
        "grp",
        "lo",
        "w",
        "bin",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(tot_w).alias("n"),
    )
    aggs = [F.max("n").cast("long").alias("n")]
    for p in ps_bp:
        b_p = F.min(
            F.when(F.col("cum") * 10_000 >= F.lit(p) * F.col("n"), F.col("bin"))
        )
        aggs.append(
            (F.max("lo") + b_p * F.max("w"))
            .cast("long")
            .alias(f"est_p{p / 100:g}".replace(".", "_"))
        )
    return (
        cdf.groupBy("grp")
        .agg(
            F.max("lo").cast("long").alias("lo_value"),
            F.max("w").cast("long").alias("bin_width"),
            *aggs,
        )
        .withColumnRenamed("grp", group_col)
    )


def kmv_set_estimates(
    df: DataFrame,
    group_col: str,
    value_col: str,
    grp_a,
    grp_b,
    k: int = 128,
) -> DataFrame:
    """KMV set algebra (the theta-sketch estimates of Dasgupta et al.
    2016, "A Framework for Estimating Stream Expression Cardinalities"
    — union / intersection / Jaccard of two distinct-value sets from
    their k-minimum-values states, never from the raw sets): the
    source-overlap question ("how much vocabulary do these two feeds
    share?") answered from two mergeable k-row sketches.

        theta     = k-th smallest hash of the UNION selection
        est_union = (k-1) * 2^48 div theta          (the KMV estimator)
        est_inter = n_inter * 2^48 div theta        (theta sampling)
        jacc_bp   = (10000 * n_inter) div n_union

    with n_inter = |hashes in BOTH states and <= theta|; when the union
    holds fewer than k distinct hashes every estimate degenerates to
    the EXACT count (same CASE as kmv_from_state). Integer bigint math
    end to end — bit-identical across engines.

    Output: ONE row (n_a, n_b, est_a, est_b, n_union, est_union,
    n_inter, est_intersection, jaccard_bp), all bigint.

    Scale shape: the only corpus-sized work is kmv_state (scan-local
    hashing, skew-free dedup, bounded per-partition top-k); everything
    after runs on <= 2k sketch rows — the union selection compiles to
    TakeOrderedAndProject and the scalar assembly is 1-row broadcast
    crossJoins.

    DuckDB oracle: `q: sk_set_overlap`.
    """
    two = df.filter(F.col(group_col).isin([grp_a, grp_b]))
    st = kmv_state(two, group_col, value_col, k=k)
    sa = st.filter(F.col("grp") == grp_a).select("h")
    sb = st.filter(F.col("grp") == grp_b).select("h")
    union_sel = (
        sa.unionByName(sb).distinct().orderBy("h").limit(k)
    )
    u_stats = union_sel.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.max("h").alias("theta"),
    )
    a_stats = sa.agg(F.count(F.lit(1)).alias("n_a"))
    b_stats = sb.agg(F.count(F.lit(1)).alias("n_b"))
    ests = kmv_from_state(st, k=k).select(
        "grp", F.col("est_distinct")
    )
    ea = ests.filter(F.col("grp") == grp_a).select(
        F.col("est_distinct").alias("est_a")
    )
    eb = ests.filter(F.col("grp") == grp_b).select(
        F.col("est_distinct").alias("est_b")
    )
    inter = (
        sa.join(sb, "h")
        .crossJoin(F.broadcast(u_stats.select("theta")))
        .filter(F.col("h") <= F.col("theta"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pow48 = 1 << 48
    return (
        u_stats.crossJoin(F.broadcast(a_stats))
        .crossJoin(F.broadcast(b_stats))
        .crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(inter))
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("est_a").cast("long").alias("est_a"),
            F.col("est_b").cast("long").alias("est_b"),
            F.col("n_union").cast("long").alias("n_union"),
            F.expr(
                f"CASE WHEN n_union < {k} THEN n_union "
                f"ELSE (({k} - 1) * cast({pow48} as bigint))"
                " div greatest(theta, 1) END"
            )
            .cast("long")
            .alias("est_union"),
            F.col("n_inter").cast("long").alias("n_inter"),
            F.expr(
                f"CASE WHEN n_union < {k} THEN n_inter "
                f"ELSE (n_inter * cast({pow48} as bigint))"
                " div greatest(theta, 1) END"
            )
            .cast("long")
            .alias("est_intersection"),
            F.expr("(10000 * n_inter) div greatest(n_union, 1)")
            .cast("long")
            .alias("jaccard_bp"),
        )
    )
