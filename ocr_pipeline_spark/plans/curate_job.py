"""Corpus curation job: documents → quality-gated, deduplicated corpus.

The training-data counterpart of extract_job: once pages are extracted
(url → text), a 100 TB corpus is curated before training — quality
gates (Gopher/C4-style), language filtering, then duplicate removal.
This plan composes the operators into one job with explicit shuffle
accounting:

    docs
    → annotate_quality                  [narrow: staged projections, no join]
    → filter(is_quality & lang allowed) [narrow]
    → dedup:
        exact   — groupBy(fingerprint) keeping min doc_id   [1 shuffle,
                  fingerprint+id keys only]
        minhash — LSH band join → exact-Jaccard verify →
                  connected components → anti-join drops    [bounded shuffles;
                  the verify join moves shingle arrays for the candidate
                  subset only, never full text]
    → write parquet + summary metrics

Nothing wide ever carries the text column except the final write: the
dedup path works on (doc_id, fingerprint/signature) projections and the
drop list joins back by doc_id — at 10^12 docs the heavy column moves
exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    dup_clusters,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ..operators.pii import scrub_pii
from ..operators.textstats import annotate_quality, fingerprint, repetition_stats

__all__ = [
    "curate",
    "curate_incremental",
    "run_curation",
]

# minhash mode keeps a candidate pair as a duplicate at this exact
# shingle Jaccard or above
JACCARD_THRESHOLD = 0.8


def curate(
    docs: DataFrame,
    langs: tuple[str, ...] | None = ("en",),
    dedup: str | None = "exact",
    max_rep_ratio: float | None = None,
    scrub: bool = False,
) -> DataFrame:
    """The lazy plan: quality gate + language filter [+ repetition drop]
    + dedup drop [+ PII scrub]. ``dedup``: None | 'exact' | 'minhash'.

    ``max_rep_ratio``: drop docs whose Gopher-style 2-gram repetition
    ratio exceeds the threshold (repetition_stats over the gated subset;
    the drop list is (doc_id)-only and joins back left_anti — at web
    repetition rates it is the small broadcastable side, same discipline
    as the dedup drop list). ``scrub``: redact PII in the surviving text
    (narrow regexp chain, applied LAST so it runs on the smallest set).

    The quality/lang flags are computed as NARROW columns on the docs
    rows (annotate_quality — staged projections, zero shuffle). Dedup
    shuffles: signature/pair/cluster computation moves keys only; the
    final keep-join shuffles the kept rows once (text included) unless
    AQE broadcasts the drop list — at web dup rates the list is the far
    smaller side. Text therefore crosses at most one exchange.

    ``kept`` is deliberately NOT cached/checkpointed although the dedup
    branch references it 2-3×: the re-evaluations are scans + cheap
    narrow gates, while materializing the kept corpus (text included)
    would write the whole dataset once more — at 100 TB the rescan is
    the cheaper side. Pipelines that want a durable intermediate write
    the gated corpus as a table and dedup against that.

    Minhash mode verifies every LSH candidate pair with exact shingle
    Jaccard ≥ ``JACCARD_THRESHOLD`` before clustering — band collisions
    alone fire on moderately-similar docs (a 4×2 banding collides
    Jaccard≈0.5 pairs ~68% of the time) and connected components would
    transitively chain them into deleted 'duplicates'."""
    kept = annotate_quality(docs).filter(F.col("is_quality"))
    if langs is not None:
        kept = kept.filter(F.col("lang_guess").isin(list(langs)))
    if max_rep_ratio is not None:
        rep_drops = (
            repetition_stats(kept)
            .filter(F.col("rep_ratio") > max_rep_ratio)
            .select("doc_id")
        )
        kept = kept.join(rep_drops, "doc_id", "left_anti")
    if dedup == "exact":
        canon = exact_dedup(kept).select(
            F.col("canonical_doc_id").alias("doc_id")
        )
        kept = kept.join(canon, "doc_id", "left_semi")
    elif dedup == "minhash":
        cand = lsh_candidate_pairs(minhash_signatures(kept))
        pairs = jaccard_verify(kept, cand).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        clusters = dup_clusters(pairs.select("doc_a", "doc_b"))
        drops = clusters.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select("doc_id")
        kept = kept.join(drops, "doc_id", "left_anti")
    elif dedup is not None:
        raise ValueError(f"unknown dedup mode: {dedup}")
    if scrub:
        kept = kept.withColumn("text", scrub_pii(F.col("text")))
    return kept


def curate_incremental(
    new_docs: DataFrame,
    known_fingerprints: DataFrame,
    **curate_kwargs,
) -> DataFrame:
    """Append-mode curation — the daily-crawl-increment shape: curate
    the new batch (within-increment gates + dedup via ``curate``), then
    drop any doc whose content fingerprint already exists in the kept
    corpus.

    ``known_fingerprints``: one column ``fingerprint`` (read back from
    the kept corpus or its manifest — never the old corpus text);
    fingerprints are always over the documents-shape ``text`` column,
    the same key ``curate``'s exact dedup uses.
    Shuffle accounting: the cross-increment check runs on a
    (fingerprint, doc_id) projection of the increment — a left_semi
    equi-join against the known set (short uniform keys on both sides;
    sort-merge at corpus scale) yields the already-known doc_ids, and
    only THAT drop list joins back to the kept rows (left_anti by
    doc_id, AQE-broadcastable at real dup rates). The increment's text
    never enters the fingerprint shuffle. Rerun-stable: a re-ingested
    page with identical content always maps to the same fingerprint."""
    kept = curate(new_docs, **curate_kwargs)
    # coalesce → non-nullable join keys on BOTH sides: without it, the
    # semi-join's inferred isnotnull(fingerprint) pushes the whole
    # normalize+md5 tree into a Filter and evaluates it twice per row
    # (CLAUDE.md derived-join-key rule; pinned by tests/test_plans.py).
    # The known side is wrapped HERE so callers that pass a lazily
    # derived fingerprint expression are protected too. The sentinels
    # are ASYMMETRIC ('#' is not hex, so neither equals a real
    # fingerprint or the other side's sentinel): a NULL on either side
    # can never join-match anything, without an isnotnull filter — an
    # explicit filter on a derived fingerprint would re-inline the
    # md5-over-text tree into a Filter (the pushdown disease above).
    known = known_fingerprints.select(
        F.coalesce(F.col("fingerprint"), F.lit("#null-known")).alias(
            "fingerprint"
        )
    )
    already_known = (
        kept.select(
            F.coalesce(fingerprint(F.col("text")), F.lit("#null-kept")).alias(
                "fingerprint"
            ),
            "doc_id",
        )
        .join(known, "fingerprint", "left_semi")
        .select("doc_id")
    )
    return kept.join(already_known, "doc_id", "left_anti")


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    langs: tuple[str, ...] | None = ("en",),
    dedup: str | None = "exact",
    max_rep_ratio: float | None = None,
    scrub: bool = False,
) -> dict:
    """Run curation, write the kept corpus, return a summary dict
    (counts in/out — the per-stage metrics line of this job)."""
    n_in = docs.count()
    kept = curate(
        docs, langs=langs, dedup=dedup,
        max_rep_ratio=max_rep_ratio, scrub=scrub,
    )
    kept.write.mode("overwrite").parquet(out_path)
    n_out = spark.read.parquet(out_path).count()
    summary = {
        "docs_in": n_in,
        "docs_kept": n_out,
        "kept_ratio": round(n_out / n_in, 4) if n_in else 0.0,
        "dedup": dedup or "none",
    }
    print(
        '{"stage": "curate", "docs_in": %d, "docs_kept": %d, "dedup": "%s"}'
        % (n_in, n_out, dedup or "none")
    )
    return summary
