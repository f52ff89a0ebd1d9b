"""Corpus bigram collocation mining — observed-vs-expected association
("lift", the ratio inside PMI) for adjacent token pairs, in exact
fixed-point arithmetic.

Why a curation pipeline wants it: high-lift bigrams surface boilerplate
phrases ("all rights reserved", "privacy policy"), template residue and
machine-generated patter; the same statistic drives tokenizer-merge
audits (how phrase-like are the learned BPE merges?) and stopword-list
derivation. This is the corpus-statistics sibling of the unigram LM
(operators/lm.py) one order up.

Score, all bigint (value-identical across engines):

    lift_bp(a,b) = (10000 * c_ab * N) div (c_a * c_b)

where c_ab counts ADJACENT occurrences of (a,b), c_a/c_b are unigram
counts, N the corpus token count: 10000 * observed/expected in basis
points — >10000 means the pair co-occurs more than independent unigrams
would. (PMI is log2 of lift/10000; keeping the ratio avoids the log and
stays integer-exact. At corpora where 10000·c_ab·N would overflow int64
— N ≳ 10^12 tokens with corpus-frequent pairs — switch the product to
the bin()-length bits form used by lm.py; at any test/bench scale here
the direct product is exact and verifiable.)

Scale shape:
- one tokenize pass feeds BOTH counters: the token-array projection is
  lazily localCheckpointed (lm.py/classifier precedent — Catalyst has
  no logical CSE and would re-tokenize per consumer).
- bigram pairing is scan-local (arrays_zip over the in-row array — no
  self-join on position, no lambda HOF, stays in codegen); shuffles
  move (a, b, partial-count) short token pairs, never document text.
- the (N,) corpus scalar is a 1-row broadcast crossJoin; top-k is a
  distributed TakeOrderedAndProject (classifier.select_top_fraction
  precedent), never a global sort.

DuckDB oracle: ``ts_collocations`` in __spark_entry__.py replays the
same counts via unnest WITH ORDINALITY + lead().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens

__all__ = ["collocations"]

SCALE_BP = 10_000


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent-bigram collocations by fixed-point lift.

    Output: (a, b, c_ab, c_a, c_b, lift_bp) — bigint counts/score,
    ordered lift_bp desc with (a, b) tie-break, bigrams seen fewer than
    ``min_count`` times dropped (lift of rare pairs is noise — the
    standard PMI pathology).
    """
    staged = docs.select(
        tokens(F.col("text")).alias("_t")
    ).localCheckpoint(eager=False)
    uni = (
        staged.select(F.explode_outer("_t").alias("term"))
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_total"))
    pairs = (
        staged.select(
            # lambda-free arrays_zip stays inside whole-stage codegen;
            # the zip_with(.., (x,y) -> struct(..)) equivalent is
            # CodegenFallback (interpreted per execution — the lm.py
            # bigram measurement). _t is a checkpoint read, so the
            # three references are cheap re-reads.
            F.explode_outer(
                F.arrays_zip(
                    F.slice(
                        F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))
                    ).alias("a"),
                    F.slice(
                        F.col("_t"), 2, F.greatest(F.size("_t") - 1, F.lit(0))
                    ).alias("b"),
                )
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    scored = (
        pairs.join(
            uni.select(F.col("term").alias("a"), F.col("c").alias("c_a")),
            "a",
        )
        .join(
            uni.select(F.col("term").alias("b"), F.col("c").alias("c_b")),
            "b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                f"({SCALE_BP} * c_ab * n_total) div (c_a * c_b)"
            ).alias("lift_bp"),
        )
    )
    return scored.orderBy(
        F.desc("lift_bp"), F.asc("a"), F.asc("b")
    ).limit(top_k)
