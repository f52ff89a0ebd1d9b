"""Model-based quality scoring: distill a document-level label into a
hashed token-bucket model, then score every document with it.

The production pattern (FineWeb-Edu, DCLM): an expensive document-level
judgment — an LLM rating, a human label, or (here, self-contained) the
heuristic ``is_quality`` gate — is distilled into a cheap token-level
classifier that generalizes the signal corpus-wide and yields a SOFT
ranking instead of the binary gate, so curation can take "the best X%"
rather than "whatever passes the thresholds".

Model: Naive-Bayes-flavored bucket frequencies over the hashing trick.
Each token hashes (md5-derived 48-bit, engine-portable) into one of
``n_buckets`` buckets; a bucket's weight is the Laplace-smoothed share
of its occurrences that came from quality-labeled documents, in FIXED
POINT (scale 1e6, integral division). A document's score is the integral
mean bucket weight of its tokens. No ln/exp/doubles anywhere — every
step is exact bigint arithmetic, so the ENTIRE train+score path is
value-checked cross-engine (`q: qc_scores`), unlike classic log-odds NB
whose libm calls differ in the last ulp between engines.

Scale shape (10^12 docs):
- tokenize + bucket-hash are scan-local staged projections; the bucketed
  (doc_id, is_quality, bucket) shorts are lazily localCheckpoint-ed so
  BOTH consumers (the weight aggregation and the scoring aggregation)
  read one materialized pass — the tfidf_top_terms precedent: without
  it, Spark scans + tokenizes the corpus twice;
- the weight table is ``n_buckets`` rows — broadcast to the scoring
  join, never shuffled;
- shuffles carry (bucket, counts) then (doc_id, bigint sums): text
  never crosses an exchange.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import md5_int
from .textstats import annotate_quality, tokens

__all__ = [
    "DEFAULT_BUCKETS",
    "QC_SCALE",
    "bucket_weights",
    "quality_scores",
    "select_top_fraction",
]

QC_SCALE = 1_000_000
# Token hash buckets: the model's features.
DEFAULT_BUCKETS = 256


def _bucketed(docs: DataFrame) -> DataFrame:
    """(doc_id, is_quality, bucket) — one row per token occurrence.
    explode_outer + isNotNull per the InferFiltersFromGenerate rule."""
    ann = annotate_quality(docs).select("doc_id", "is_quality", "text")
    staged = ann.select(
        "doc_id", "is_quality", tokens(F.col("text")).alias("_t")
    )
    return (
        staged.select(
            "doc_id",
            "is_quality",
            F.explode_outer("_t").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .select(
            "doc_id",
            "is_quality",
            (md5_int(F.col("tok")) % F.lit(DEFAULT_BUCKETS)).alias("bucket"),
        )
    )


def bucket_weights(docs: DataFrame) -> DataFrame:
    """The trained model: (bucket, n_quality, n_total, weight) where
    weight = (QC_SCALE * (n_quality+1)) div (n_total+2) — the
    Laplace-smoothed quality share in fixed point."""
    return _weights(_bucketed(docs))


def _weights(bucketed: DataFrame) -> DataFrame:
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_quality"), 1).otherwise(0))
            .cast("long")
            .alias("n_quality"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .select(
            "bucket",
            "n_quality",
            "n_total",
            F.expr(
                f"({QC_SCALE} * (n_quality + 1)) div (n_total + 2)"
            ).alias("weight"),
        )
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Train on the corpus, score the corpus (one tokenize pass for
    both). Output: (doc_id, quality_score, n_scored_tokens, is_quality)
    where quality_score = integral mean bucket weight in [0, QC_SCALE]
    — the soft ranking; is_quality is the distilled binary label."""
    bucketed = _bucketed(docs).localCheckpoint(eager=False)
    weights = _weights(bucketed).select("bucket", "weight")
    return (
        bucketed.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("is_quality"), 1).otherwise(0)).alias("_q"),
            F.sum("weight").alias("_sw"),
            F.count(F.lit(1)).alias("n_scored_tokens"),
        )
        .select(
            "doc_id",
            F.expr("_sw div n_scored_tokens").alias("quality_score"),
            "n_scored_tokens",
            (F.col("_q") == 1).alias("is_quality"),
        )
    )


def select_top_fraction(docs: DataFrame, frac: float = 0.25) -> DataFrame:
    """The "take the best X%" curation step the soft score exists for:
    the top ``ceil(frac * N)`` documents by (quality_score DESC, doc_id)
    — doc_id breaks ties, so the selected SET is deterministic.

    Scale shape: Spark compiles sort+limit to TakeOrderedAndProject —
    per-partition top-k then a single k-row merge, NO global sort and
    no range-repartition of the corpus (pinned by a plan test). The
    corpus count is one bounded driver scalar (the bpe_train
    precedent); rows carry (doc_id, score) shorts only.

    Cross-engine note: k = ceil(frac * N) in IEEE doubles on both
    sides — use binary-exact fractions (0.25, 0.5, 0.125, ...) when
    the oracle replays the ceil, per the 53-bit-mantissa rule.
    """
    if not (0.0 < frac <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    scored = quality_scores(docs)
    n = scored.count()
    k = max(1, math.ceil(frac * n))
    return (
        scored.orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "quality_score")
    )
