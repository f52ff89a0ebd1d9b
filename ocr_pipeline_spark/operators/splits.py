"""Deterministic train/validation/test splits for training-data pipelines.

Requirements a 100 TB corpus split must satisfy (and ``randomSplit``
does not): (a) stable under reruns, repartitioning, and appends — a
document's split is a pure function of its identity, never of RNG state
or row order; (b) leakage-free grouping — all documents from one domain
(or other group key) land in the same split, so near-duplicates within a
site cannot straddle train/test.

Mechanics: md5 of the key (engine-portable, mirrored in the DuckDB
oracle) → first 12 hex chars → int mod 10_000 → compare against
cumulative per-mille-of-ten thresholds. Pure Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .hashing import hex_int, md5_hex, md5_int

__all__ = [
    "temperature_shares",
    "epoch_shuffle",
    "curriculum_order",
    "mix_token_budget",
    "split_label",
    "hash_split",
    "stratified_sample",
    "reservoir_per_stratum",
    "domain_cap",
    "pack_sequences",
]

_MOD = 10_000
# Hash-key prefixes of split_label and reservoir_per_stratum.
SPLIT_SEED = "split0"
RESERVOIR_SEED = "resv0"
# curriculum_order's shards per phase, and the epoch its key is drawn for.
CURRICULUM_SHARDS = 4
CURRICULUM_EPOCH = 0


def split_label(key: Column, fractions: dict[str, float]) -> Column:
    """Label column: deterministic assignment of ``key`` to a named split
    with the given fractions (must sum to ≤ 1; remainder → 'rest').
    Hash = the engine's shared portable 48-bit md5 recipe
    (hashing.md5_int) over '{SPLIT_SEED}_{key}', mod 10_000."""
    bucket = (
        md5_int(F.concat(F.lit(f"{SPLIT_SEED}_"), key.cast("string"))) % _MOD
    )
    expr: Column | None = None
    acc = 0
    for name, frac in fractions.items():
        acc += int(round(frac * _MOD))
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise("rest") if expr is not None else F.lit("rest")).alias(
        "split"
    )


def hash_split(
    df: DataFrame, id_col: str, fractions: dict[str, float]
) -> DataFrame:
    """df + 'split' column keyed on the row id."""
    return df.withColumn("split", split_label(F.col(id_col), fractions))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixing primitive
    (keep X% of lang='en', Y% of lang='ko', …). Same guarantees as
    hash_split: a row's fate is a pure function of its id, stable under
    reruns / repartitioning / appends, and the same row is kept at every
    rate ≥ its hash point (rates can be raised later without resampling
    the already-kept set — nested samples).

    Scale shape: a scan-local filter on two cheap expressions (md5 +
    case over the stratum) — no shuffle, no per-stratum pass; pushdown
    keeps it at the source when the stratum column is a partition key.
    """
    bucket = (
        md5_int(F.concat(F.lit("strat0_"), F.col(id_col).cast("string")))
        % _MOD
    )
    thr: Column | None = None
    for name, rate in rates.items():
        cond = F.col(strata_col) == name
        lim = F.lit(int(round(rate * _MOD)))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    thr = (
        thr.otherwise(int(round(default_rate * _MOD)))
        if thr is not None
        else F.lit(int(round(default_rate * _MOD)))
    )
    return df.filter(bucket < thr)


def reservoir_per_stratum(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
) -> DataFrame:
    """Deterministic fixed-SIZE per-stratum sample — exactly ``k`` rows
    per stratum (fewer if the stratum is smaller), the eval-set-carving
    companion of rate-based ``stratified_sample``. Rank = the portable
    48-bit md5 hash of the row id (id tie-break for the astronomically
    unlikely collision), so membership is a pure function of row
    identity: rerun/repartition/append-stable, and raising ``k`` later
    only ADDS rows (nested samples, same property as the rate variant).

    Scale shape: only (id, stratum, 48-bit hash) shorts cross the one
    window exchange — project before ranking and rejoin payloads by id
    downstream (CLAUDE.md shuffle rule). The window sorts each stratum
    partition; strata counts are corpus-scale but per-stratum top-k
    never needs the full sort to ship anywhere."""
    h = md5_int(
        F.concat(F.lit(f"{RESERVOIR_SEED}_"), F.col(id_col).cast("string"))
    )
    base = df.select(
        F.col(id_col), F.col(strata_col), h.alias("_h")
    )
    w = Window.partitionBy(strata_col).orderBy("_h", id_col)
    return (
        base.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .drop("_h")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    cap: int,
    order_col: str,
    id_col: str,
) -> DataFrame:
    """Per-domain document quota: keep at most ``cap`` rows per domain,
    preferring the highest ``order_col`` (quality score, token count)
    with an id tie-break — the anti-domination gate every web corpus
    ships (a handful of boilerplate-heavy hot domains would otherwise
    swamp the token budget; C4/Gopher-style curation applies exactly
    this cap after quality scoring).

    Scale shape: same short-key window contract as
    ``reservoir_per_stratum`` — (id, domain, order) only across the
    exchange, payloads rejoin by id. Hot domains make this window
    partition skewed by construction (that's what it's FOR), so at the
    extreme — a single domain holding a double-digit share of the
    corpus — pre-filter with the p_hot_domains pass and handle those
    few domains with a TakeOrderedAndProject per domain instead; the
    window form is right for the heavy midsection."""
    base = df.select(
        F.col(id_col), F.col(domain_col), F.col(order_col)
    )
    w = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    return (
        base.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Sequence packing: assign each doc a (bin_idx, bin_offset) in a
    deterministic stream of ``budget``-token training sequences — the
    last batch-prep step of an LLM data pipeline (docs concatenated into
    fixed-length contexts).

    Streaming-pack semantics (the relationally-expressible variant): docs
    are laid out in ``order_col`` order within a shard and a doc belongs
    to the bin where it STARTS (bin = floor(start_offset / budget)), so
    bins hold ~budget tokens with doc boundaries preserved; a doc longer
    than the budget spans bins from its start (the consumer truncates or
    splits — same contract as offset-based packed-dataset formats).
    Exact no-straddle first-fit needs a sequential scan with reset,
    which is not a window function — this cumulative-offset layout is
    the standard distributed compromise and is fully order-deterministic
    and rerun-stable PROVIDED ``order_col`` is unique within each shard
    (doc ids are): with ties, no window frame yields a well-defined
    stream position — peers would share or overlap offsets.

    Scale shape: one window cumsum per shard — shard granularity (e.g.
    the hash_split label, or a date) bounds the window partition so no
    single global ordering is materialized."""
    shard = (
        F.col(shard_col) if shard_col is not None else F.lit("all")
    ).alias("shard")
    base = df.select(
        shard, F.col("doc_id"), F.col(token_col).cast("long").alias("n_tokens")
    )
    # ROWS frame, not the default RANGE: RANGE gives peer rows (tied
    # order keys) one shared cumulative sum — overlapping offsets
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = F.col("n_tokens")
    start = F.sum(t).over(w) - t
    # integral `div`, not floor(double /): a 53-bit mantissa can flip a
    # doc just below a bin boundary once cumulative offsets grow large —
    # bigint end to end, like every other cross-engine recipe here
    return base.select(
        "shard", "doc_id", "n_tokens", start.alias("_so")
    ).select(
        "shard",
        "doc_id",
        "n_tokens",
        F.expr(f"_so div {int(budget)}").alias("bin_idx"),
        (F.col("_so") % budget).alias("bin_offset"),
    )


def epoch_shuffle(
    docs: DataFrame,
    n_shards: int = 4,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic training-order permutation for one epoch: every
    document gets (shard, pos) where shard = hash48(key) mod n_shards
    and pos = its rank within the shard by (md5 key, id) — a different
    ``epoch`` seeds a different md5 key, hence an independent
    permutation, with NO RNG state anywhere (stable under reruns,
    repartitioning, and appends, like every split in this module).

    This is the corpus-shuffling step a training run does per epoch:
    write one shard per output file in pos order and readers stream a
    pseudo-random document order.

    Scale shape: one shuffle on the shard key (rows are (id, 32-hex)
    shorts); the within-shard rank is a window sort per shard — shards
    bound sort size, so pick n_shards so a shard's (id, key) rows fit
    a partition (10^12 docs / 10^4 shards = 10^8 short rows ~ 5 GB).
    Output: (doc_id, shard, pos).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    staged = docs.select(
        "doc_id",
        md5_hex(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":epoch{epoch}"))
        ).alias("_k"),
    )
    w = Window.partitionBy("shard").orderBy("_k", "doc_id")
    return (
        staged.select(
            "doc_id",
            (hex_int(F.col("_k"), 12) % F.lit(n_shards)).alias("shard"),
            "_k",
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def mix_token_budget(
    docs: DataFrame,
    shares_bp: dict[str, int],
    budget: int,
) -> DataFrame:
    """Data mixing: sample each source so the kept mix approaches the
    target token shares under a total token budget — the Pile/Dolma
    recipe ("30% web, 30% code, ...") as a deterministic operator.

    For source s with total tokens T_s and target share_bp[s] basis
    points of ``budget``: the wanted token count is
    budget*share_bp[s]/10000, so the keep fraction in basis points is
    rate_bp(s) = min(10000, (budget*share_bp[s]) div T_s) — the 10^4
    factors cancel; capped at taking everything. A document is kept
    iff hash48('mix0_{id}') mod 10000 < rate_bp — the same identity-
    hash sampling as every split here (rerun/append-stable, no RNG).
    All arithmetic is bigint (integral div) — value-checked
    cross-engine (`q: sp_mix_budget`).

    Sources absent from ``shares_bp`` are dropped (share 0). Expected
    kept tokens per source ≈ budget * share_bp / 10000, bounded by
    availability; hash sampling gives the exact expectation with
    per-doc independence.

    Scale shape: one groupBy(source) for the totals (a handful of
    rows), broadcast back; the keep decision is scan-local. Output:
    kept (doc_id, source, n_toks, rate_bp).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    for s, bp in shares_bp.items():
        if not (0 <= bp <= 10000):
            raise ValueError(f"share_bp[{s!r}] out of [0, 10000]: {bp}")
    spark = docs.sparkSession
    shares = spark.createDataFrame(
        list(shares_bp.items()), "source string, share_bp long"
    )
    totals = (
        docs.groupBy("source")
        .agg(F.sum(F.col("n_toks")).cast("long").alias("_tot"))
        .join(shares, "source")
        .select(
            "source",
            F.least(
                F.lit(10000).cast("long"),
                F.expr(f"({budget} * share_bp) div _tot"),
            ).alias("rate_bp"),
        )
    )
    keep_hash = md5_int(
        F.concat(F.lit("mix0_"), F.col("doc_id").cast("string"))
    ) % F.lit(10000)
    return (
        docs.select("doc_id", "source", "n_toks")
        .join(F.broadcast(totals), "source")
        .filter(keep_hash < F.col("rate_bp"))
        .select("doc_id", "source", "n_toks", "rate_bp")
    )


def _isqrt_exact(n: str) -> "F.Column":
    """Exact integer sqrt of a non-negative bigint column, portable:
    float sqrt is correctly rounded (error ≤ 1 on the floor for
    n < 2^53), so one down/up correction with INTEGER comparisons makes
    the result exact in every engine — no float appears in the output.
    DuckDB replays the identical three steps."""
    s0 = f"cast(floor(sqrt({n})) as bigint)"
    s1 = f"({s0} - (CASE WHEN {s0} * {s0} > {n} THEN 1 ELSE 0 END))"
    return F.expr(
        f"{s1} + (CASE WHEN ({s1} + 1) * ({s1} + 1) <= {n}"
        " THEN 1 ELSE 0 END)"
    )


def temperature_shares(docs: DataFrame, temperature_x2: int = 4) -> DataFrame:
    """Temperature-scaled source-mixing shares — the multilingual /
    multi-source rebalancing rule (mC4, LLaMA: sample source i with
    probability ∝ n_i^(1/T)); T>1 upweights small sources so the head
    domain cannot drown the tail.

    Exact arithmetic restricts T to halves: ``temperature_x2`` = 2T,
    so 4 → T=2 (w = isqrt(n), the standard choice), 2 → T=1 (natural
    shares), 8 → T=4 (w = isqrt(isqrt(n))). n^(1/T) for other T needs
    floats and is not cross-engine checkable; T ∈ {1, 2, 4} covers the
    published configurations.

    Output: (source, n_toks, w, share_bp, natural_bp) — all bigint;
    share_bp = (10000·w) div Σw is the temperature-scaled sampling
    share, natural_bp the unscaled one, so the rebalancing is visible
    per row. Scale shape: one partial-agg shuffle of (source, count)
    pairs; the Σ scalars are a 1-row broadcast.
    """
    if temperature_x2 not in (2, 4, 8):
        raise ValueError(
            f"temperature_x2 must be 2, 4 or 8 (T=1,2,4): {temperature_x2}"
        )
    totals = docs.groupBy("source").agg(
        F.sum("n_toks").alias("n_toks")
    )
    w = F.col("n_toks")
    if temperature_x2 >= 4:
        totals = totals.withColumn("w", _isqrt_exact("n_toks"))
        if temperature_x2 == 8:
            totals = totals.withColumn("w", _isqrt_exact("w"))
    else:
        totals = totals.withColumn("w", w)
    sums = totals.agg(
        F.sum("w").alias("_sw"), F.sum("n_toks").alias("_sn")
    )
    return totals.crossJoin(F.broadcast(sums)).select(
        "source",
        "n_toks",
        "w",
        F.expr("(10000 * w) div _sw").alias("share_bp"),
        F.expr("(10000 * n_toks) div _sn").alias("natural_bp"),
    )


def curriculum_order(docs: DataFrame) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009, "Curriculum
    Learning"): stream 'easy' documents first — phases are surprisal
    bands from the corpus-trained LM (phase 1 = the fluent
    low-perplexity head, the CCNet-quality slice), and WITHIN each
    phase the order is the deterministic epoch-keyed pseudo-random
    permutation (the epoch_shuffle idiom: no RNG state; stable under
    reruns, repartitioning and appends). A training run reads phases in
    order and a shuffled stream within each.

    phase  = head_split ntile band;
    _k     = md5(doc_id ':curriculum' CURRICULUM_EPOCH)  (32-hex);
    shard  = first-48-bits(_k) mod CURRICULUM_SHARDS;
    pos    = rank within (phase, shard) by (_k, doc_id).

    Output: (doc_id, phase, shard, pos). Writers emit one file per
    (phase, shard) in pos order; the shard count bounds the within-group
    sort exactly as in epoch_shuffle (pick it so a shard's (id, 32-hex)
    shorts fit a partition).

    DuckDB oracle: `q: sp_curriculum`.
    """
    from .lm import head_split

    split = head_split(docs)
    keyed = split.select(
        "doc_id",
        F.col("split").alias("phase"),
        md5_hex(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(f":curriculum{CURRICULUM_EPOCH}"),
            )
        ).alias("_k"),
    ).withColumn(
        "shard",
        (hex_int(F.col("_k"), 12) % F.lit(CURRICULUM_SHARDS)).cast("long"),
    )
    w = Window.partitionBy("phase", "shard").orderBy("_k", "doc_id")
    return keyed.select(
        "doc_id",
        F.col("phase").cast("long").alias("phase"),
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )
