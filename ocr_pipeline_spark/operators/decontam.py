"""Benchmark decontamination — test-set n-gram overlap screening.

The pass every LLM training pipeline runs before training (GPT-3
appendix C / Gopher §A.8 style): a training document is flagged as
contaminated when a meaningful fraction of its distinct word n-grams
also occur in an evaluation-benchmark suite, so eval answers don't leak
into the training set.

Scale shape (the whole point at 100 TB): benchmark suites are tiny
(MBs) against the corpus, so the benchmark's gram-key set builds once,
deduplicates in a trivially small exchange, and BROADCASTS; corpus-side
grams are exploded map-side and matched inside the scan stage — gram
text never crosses a shuffle (CLAUDE.md payload rule: the broadcast
probe uses 16-hex md5 prefixes), and the only corpus-sized exchange is
the per-doc partial-agg on (doc_id, two ints).

Engine portability: gram construction is ``dedup.shingles`` (distinct
word n-grams of normalized text; short docs fall back to the whole
normalized text), which the DuckDB oracle's n-gram builder mirrors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingles
from .hashing import md5_hex

__all__ = [
    "DEFAULT_NGRAM",
    "contamination_flags",
    "gram_keys",
    "fuzzy_decontam",
]

# 8-gram overlap is the published sweet spot: long enough that shared
# boilerplate phrases don't false-positive, short enough to catch
# paraphrase-free inclusion (GPT-3 used 13-gram spans, Gopher 8-grams).
DEFAULT_NGRAM = 8


def gram_keys(col: Column) -> Column:
    """Array of 16-hex md5 keys of the distinct word DEFAULT_NGRAM-grams
    of a text column (shingles semantics: shorter docs contribute their
    whole normalized text as one gram)."""
    return F.transform(
        shingles(col, DEFAULT_NGRAM),
        lambda g: md5_hex(g, 16),
    )


def contamination_flags(
    docs: DataFrame,
    bench: DataFrame,
    threshold_pct: int = 10,
) -> DataFrame:
    """Per-document contamination screen against a benchmark suite.

    ``bench``: DataFrame with a ``text`` column (the benchmark items —
    questions, answers, passages). Output per input doc:
    (doc_id, n_grams, n_hit, is_contaminated) where ``n_grams`` counts
    the doc's distinct DEFAULT_NGRAM-grams, ``n_hit`` how many occur anywhere in the
    benchmark, and ``is_contaminated`` is the integer-exact threshold
    test 100·n_hit ≥ threshold_pct·n_grams.

    Plan: benchmark grams → distinct md5-prefix keys (tiny) → broadcast;
    corpus grams explode map-side, probe the broadcast, and partial-agg
    to (doc_id, n_grams, n_hit) — ONE corpus-sized exchange, carrying
    three shorts. No gram string ever shuffles; pinned by
    tests/test_plans.py.
    """
    bench_keys = (
        bench.select(
            F.explode_outer(gram_keys(F.col("text"))).alias("gk")
        )
        .filter(F.col("gk").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # staged projection: the gram-key array is computed once per row
    # (explode_outer, not explode — InferFiltersFromGenerate would push
    # the whole tokenize+hash tree into a Filter and re-inline it per
    # element; the array is never empty, so rows are identical)
    sh = docs.select(
        "doc_id", gram_keys(F.col("text")).alias("_gks")
    )
    ex = (
        sh.select(
            "doc_id",
            F.size("_gks").alias("_n_grams"),
            F.explode_outer("_gks").alias("gk"),
        )
        .filter(F.col("gk").isNotNull())
    )
    per_doc = (
        ex.join(F.broadcast(bench_keys), "gk", "left")
        .groupBy("doc_id")
        .agg(
            F.max("_n_grams").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_hit",
        (
            F.lit(100) * F.col("n_hit")
            >= F.lit(threshold_pct) * F.col("n_grams")
        ).alias("is_contaminated"),
    )


def fuzzy_decontam(
    docs: DataFrame,
    bench: DataFrame,
    min_jaccard_bp: int = 5000,
) -> DataFrame:
    """Fuzzy (near-duplicate) decontamination — the MinHash/LSH
    companion of :func:`contamination_flags`. Exact n-gram screens
    miss lightly-paraphrased or reformatted benchmark items (the
    reason Llama-style pipelines complement GPT-3's 13-gram exact rule
    with fuzzy matching); here every corpus document is checked for
    NEAR-duplicate overlap with any benchmark item: shared LSH band →
    candidate, exact shingle Jaccard >= min_jaccard_bp → contaminated.

    ``bench`` doc_ids MUST be disjoint from the corpus' (the caller
    offsets them; asserted nowhere at 10^12 scale, so it is part of
    the contract). Output, one row per CORPUS doc: (doc_id,
    n_bench_candidates, best_jaccard_bp, fuzzy_contaminated) — clean
    docs report (0, 0, false).

    Scale shape: the union is scanned per stage exactly like the
    oracled dd_lsh_pairs/dd_jaccard_bucket chain it reuses
    (minhash_signatures / lsh_candidate_pairs / jaccard_verify —
    operators/dedup.py); candidate generation is the banded equi-join
    (short keys, skew-free hashed bands, never all-pairs), the
    cross-set gate joins the tiny (doc_id, is_bench) side table, and
    verification touches candidates only. Benchmark suites are small
    (10^4-10^6 items) so the bench side adds negligible mass.

    DuckDB oracle: `q: ct_fuzzy` (bench = every 10th corpus doc
    re-keyed at +10M — literal copies, so the screen provably fires).
    """
    from .dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    u = docs.select("doc_id", "text").withColumn(
        "_bench", F.lit(False)
    ).unionByName(
        bench.select("doc_id", "text").withColumn(
            "_bench", F.lit(True)
        )
    )
    flags = u.select("doc_id", "_bench")
    pairs = lsh_candidate_pairs(minhash_signatures(u))
    cross = (
        pairs.join(
            flags.select(
                F.col("doc_id").alias("doc_a"), F.col("_bench").alias("_ba")
            ),
            "doc_a",
        )
        .join(
            flags.select(
                F.col("doc_id").alias("doc_b"), F.col("_bench").alias("_bb")
            ),
            "doc_b",
        )
        .filter(F.col("_ba") != F.col("_bb"))
    )
    ver = jaccard_verify(u, cross.select("doc_a", "doc_b"))
    per_doc = (
        ver.join(
            flags.select(
                F.col("doc_id").alias("doc_a"), F.col("_bench").alias("_ba")
            ),
            "doc_a",
        )
        .select(
            F.when(F.col("_ba"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("doc_id"),
            F.expr("(10000 * n_intersect) div n_union").alias("_jbp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_candidates"),
            F.max("_jbp").alias("best_jaccard_bp"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bench_candidates", F.lit(0))
            .cast("long")
            .alias("n_bench_candidates"),
            F.coalesce("best_jaccard_bp", F.lit(0))
            .cast("long")
            .alias("best_jaccard_bp"),
            (
                F.coalesce("best_jaccard_bp", F.lit(0))
                >= F.lit(min_jaccard_bp)
            ).alias("fuzzy_contaminated"),
        )
    )
