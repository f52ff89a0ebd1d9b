"""Sharded inverted-index (postings) builder — the term → documents map
behind corpus search, decontamination lookups, and quality-signal
mining over a web-scale training corpus.

Reference analogy: the reference serves per-document results keyed by
job id (pipeline/app.py result store); the inverted index is the
transposed, corpus-level view — "which documents contain this term" —
that a data-curation team queries constantly (leaked-benchmark strings,
boilerplate markers, PII trigger terms).

Layout: rows (term, shard, df_shard, tf_shard, postings) where
``postings`` is the ASCENDING doc_id list of the term's documents in
that shard, ``shard = doc_id mod n_shards``. Global per-term stats are
window sums over the shard rows (compact: one row per term-shard).

Why sharded: the postings list of a stopword is the whole corpus — at
10^12 docs a single (term="the", postings) row would be a multi-GB
array in one task (the classic reducer-OOM skew). ``n_shards`` bounds
every row at n_docs/n_shards ids WITHOUT losing information (the full
list is the ordered concat of its shards), and shard rows of one term
land on different reducers, so the skewed key is load-spread too — the
same salting idea as partitioning.salt_hot_keys, but lossless because
the shard id is derivable from doc_id. min_df bounds the vocabulary
tail (hapaxes) when the index is for lookup rather than audit.

Scale shape:
- one tokenize pass; the shuffle moves (term, doc_id) pairs — terms are
  whitespace tokens (short); document TEXT never crosses an exchange.
- two-level aggregation: (term, doc_id) tf first (map-side combinable),
  then (term, shard) packing; the df window runs over the packed rows
  (one per term-shard), not the token stream.
- postings are sorted in-group via sort_array after collect_list — a
  deterministic order both engines can replay (DuckDB:
  list(doc_id ORDER BY doc_id)).

DuckDB oracle: ``ix_postings`` in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens

__all__ = ["BM25_B_BP", "BM25_K1_BP", "term_postings", "bm25_search"]

# BM25's k1 = 1.2 and b = 0.75, in basis points.
BM25_K1_BP = 12000
BM25_B_BP = 7500


def term_postings(
    docs: DataFrame,
    n_shards: int = 1,
    min_df: int = 1,
) -> DataFrame:
    """Build the sharded postings table over whitespace tokens.

    Output: (term, shard, df_shard, tf_shard, df, postings) — df is the
    term's GLOBAL document frequency (same value on each of its shard
    rows); all counts bigint, postings array<bigint> ascending.

    ``min_df`` drops terms seen in fewer than min_df documents
    (hapax-legomena tail — typically >40% of a web vocabulary); it
    filters on the global df, computed before the bound is applied.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    term_doc = (
        docs.select(
            "doc_id", F.explode_outer(tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term").isNotNull() & (F.col("term") != ""))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    packed = term_doc.groupBy(
        "term", (F.col("doc_id") % n_shards).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("df_shard"),
        F.sum("tf").alias("tf_shard"),
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
    )
    w = Window.partitionBy("term")
    out = packed.withColumn("df", F.sum("df_shard").over(w)).filter(
        F.col("df") >= min_df
    )
    return out.select(
        "term", "shard", "df_shard", "tf_shard", "df", "postings"
    )


def bm25_search(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """BM25-shaped ranked retrieval (Robertson & Zaragoza 2009, "The
    Probabilistic Relevance Framework: BM25 and Beyond") in EXACT
    integer arithmetic — the search query the inverted index exists to
    answer, rankable identically on both engines:

        idf_b   = len(bin((N + 1) div (df + 1)))     # floor-log2 idf,
                                                     # the lm.py bit trick
        norm_bp = (10000 - B_BP) + (B_BP * dl) div avgdl
        K_bp    = (K1_BP * norm_bp) div 10000
        sat_bp  = (10000 * tf * (10000 + K1_BP)) div (10000 * tf + K_bp)
        score   = sum over matched query terms of idf_b * sat_bp

    with avgdl = L div N (floored — part of the spec). k1 = K1_BP/1e4,
    b = B_BP/1e4 are the classic 1.2 / 0.75 (``BM25_K1_BP``,
    ``BM25_B_BP``). The bit-length
    idf is the house integer-exact form (a monotone floor of log2, the
    same transform lm.py scores with); ranking ties break by doc_id.

    Output: top-``k`` rows (doc_id, score, n_terms_hit), score/bigint.

    Scale shape: one tokenize pass; the query-term filter keeps only
    matching (doc_id, term, dl) shorts (query sets are tiny literals —
    an IN over a handful of strings, scan-local); tf and df are
    map-side-combinable groupBys on those shorts; the (N, L) scalars
    broadcast; the final top-k compiles to TakeOrderedAndProject
    (pinned) — never a global sort. INTEGER RANGE: every product is
    bounded by B_BP*dl (~10^9 at 100k-token docs) or 10^4*tf*(2.2*10^4)
    (~10^13) — safe in bigint at any corpus size because dl, tf are
    PER-DOCUMENT quantities and N only enters through the idf quotient.

    DuckDB oracle: `q: ix_bm25`.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    # lazy checkpoint: staged feeds both the term filter and the (N, L)
    # scalars — without it the corpus is scanned and tokenized twice
    staged = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    base = (
        staged.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode_outer("toks").alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
        .filter(F.col("tok").isin(list(terms)))
    )
    tf = base.groupBy("doc_id", "dl", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("total_len"),
    ).select(
        "n_docs", F.expr("total_len div n_docs").alias("avgdl")
    )
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.expr("(n_docs + 1) div (df + 1)")))
                .cast("long")
                * F.expr(
                    f"(10000 * tf * (10000 + {BM25_K1_BP})) div "
                    f"(10000 * tf + ({BM25_K1_BP} * "
                    f"((10000 - {BM25_B_BP}) + ({BM25_B_BP} * dl) div avgdl))"
                    " div 10000)"
                )
            ).alias("term_score"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(k)
    )
