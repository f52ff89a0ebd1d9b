"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` registers the engine's operator surface (SURVEY.md §2 +
training-data ops) over the driver's testdata; ``oracle_sql()`` provides
DuckDB-equivalent SQL for each. Cross-engine value parity is engineered,
not hoped for:

- monetary aggregates: cast DOUBLE → DECIMAL(18,2) before summing (exact
  decimal arithmetic in both engines), round, then cast back to double;
- hashing: md5 only (xxhash64 is Spark-specific);
- float folds (cosine): sequential double left-folds with identical
  operand order on both sides → bit-identical doubles → identical rounding;
- ranking: always on the rounded value with an id tie-break.

Extraction queries (the engine's flagship capability) run on a
deterministically synthesized pages table (BASELINE.json input_hint shape)
— not expressible over the pre-registered DuckDB views, so they carry no
oracle entry; their byte-identity is enforced by the pytest golden suite
instead (tests/test_golden.py, tests/test_extraction_spark.py).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.dedup import (
    CONTAINMENT_MAX_FP_DF,
    DEFAULT_NUM_HASHES,
    DEFAULT_SHINGLE,
    MINHASH_P,
    SIMHASH_BITS,
    SIMHASH_BLOCKS,
    SIMHASH_MAX_HAMMING,
    boilerplate_scrub,
    chunk_dedup,
    cross_source_chunks,
    template_report,
    dup_clusters,
    dup_spans,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_perm_constants,
    minhash_signatures,
    shingles,
    simhash_candidate_pairs,
    simhash_signatures,
    simhash_table_combos,
)
from ocr_pipeline_spark.operators.classifier import (
    DEFAULT_BUCKETS,
    bucket_weights,
    quality_scores,
    select_top_fraction,
)
from ocr_pipeline_spark.operators.extraction import (
    debug_overlay_pages,
    explode_blocks,
    extract_pages,
    refine_sentence_spans,
    regroup_blocks,
    segment_pages,
)
from ocr_pipeline_spark.operators.clustering import (
    KM_CELLS,
    KM_ITERS,
    KM_SCALE,
    kmeans_assign,
    kmeans_centroids,
)
from ocr_pipeline_spark.operators.collocations import collocations
from ocr_pipeline_spark.operators.lm import (
    SCALE_BP,
    bigram_surprisal,
    dsir_weights,
    head_split,
    head_split_approx,
    lm_surprisal,
    stupid_backoff,
    vocab_coverage,
)
from ocr_pipeline_spark.operators.lineage import diff_extractions
from ocr_pipeline_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _parse as _media_parse,
    decode_media_meta,
    feature_of,
    FRAME_EVERY_K,
    frame_sample,
    format_feature,
    media_features_packed,
    synth_media,
    media_dedup,
)
from ocr_pipeline_spark.operators.similarity import (
    ANN_PLANES,
    ANN_TABLES,
    EMBED_DIM,
    IVF_CELLS,
    IVF_PROBE,
    NEAR_DUP_PLANES,
    RP_DIM,
    RP_SEED,
    TOP_K,
    VEC_DIM,
    _centroids,
    ann_topk,
    brute_force_topk,
    cosine_near_dup,
    hashed_embedding,
    ivf_topk,
    rp_project,
    semantic_dedup,
    _plane_constants,
)
from ocr_pipeline_spark.operators.profiling import (
    corpus_report,
    profile_table,
)
from ocr_pipeline_spark.operators.pii import (
    CARD_RE,
    CARD_SAMPLES,
    LUHN_SQL,
    PII_COUNT_SQL,
    PII_SAMPLES,
    PII_STEPS_SQL,
    with_card_scrub,
    with_scrubbed_text,
)
from ocr_pipeline_spark.operators.bloom import (
    bloom_build,
    bloom_gate,
    bloom_probe,
)
from ocr_pipeline_spark.operators.graph import (
    DAMPING_BP,
    PAGERANK_ITERS,
    SCALE_BP as GRAPH_BP,
    connected_components,
    degree_distribution,
    pagerank,
)
from ocr_pipeline_spark.operators.index import (
    BM25_B_BP,
    BM25_K1_BP,
    bm25_search,
    term_postings,
)
from ocr_pipeline_spark.operators.links import link_rows, page_edges
from ocr_pipeline_spark.operators.partitioning import HOT_SHARE
from ocr_pipeline_spark.operators.sketch import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_estimate,
    cms_state,
    hist_quantiles,
    kmv_distinct,
    kmv_set_estimates,
)
from ocr_pipeline_spark.operators.splits import (
    CURRICULUM_EPOCH,
    CURRICULUM_SHARDS,
    RESERVOIR_SEED,
    SPLIT_SEED,
    domain_cap,
    epoch_shuffle,
    hash_split,
    mix_token_budget,
    pack_sequences,
    reservoir_per_stratum,
    stratified_sample,
    temperature_shares,
    curriculum_order,
)
from ocr_pipeline_spark.operators.layout import (
    quantize_case_sql,
    with_zvalue,
    zvalue_sql,
)
from ocr_pipeline_spark.operators.urlkit import (
    BLOCK_FIXTURE_URLS,
    BLOCK_RULES,
    CANON_STEPS_SQL,
    EDGE_URLS,
    HOST_RE,
    PATH_RE,
    url_dedup,
    url_rule_verdicts,
    with_canonical_url,
)
from ocr_pipeline_spark.operators.temporal import (
    EWMA_ALPHA_BP,
    FUNNEL_STEPS,
    FUNNEL_WINDOW_S,
    SESSION_GAP,
    asof_join,
    cohort_retention,
    event_funnel,
    interval_join_count,
    ewma_values,
    session_values,
    sessionize,
)
from ocr_pipeline_spark.operators.decontam import (
    DEFAULT_NGRAM,
    contamination_flags,
    fuzzy_decontam,
)
from ocr_pipeline_spark.kernels.bpe import (
    TRAIN_CORPUS as BPE_CORPUS,
)
from ocr_pipeline_spark.kernels.bpe import default_merges as kernel_default_merges
from ocr_pipeline_spark.kernels.bpe import vocab_of as kernel_vocab_of
from ocr_pipeline_spark.kernels.materialize import BLOCK_SEPARATOR
from ocr_pipeline_spark.operators.bpe import bpe_encode, bpe_train
from ocr_pipeline_spark.plans.curate_job import curate, curate_incremental
from ocr_pipeline_spark.operators.textstats import (
    LANGS,
    LANG_STOPWORDS,
    LANG_TOKENS_PER_HIT,
    REP_GRAM,
    ROLL_MOD,
    TFIDF_TOP_K,
    WINNOW_K,
    WINNOW_W,
    STOPWORDS_EN,
    UNICODE_SAMPLES,
    lang_id_ngram,
    lang_trigram_sets,
    with_nfc_text,
    lang_id,
    lang_id_multi,
    quality_flags,
    fingerprint,
    repetition_stats,
    tokens,
    rolling_hash,
    tfidf_top_terms,
    token_stats,
    winnow_fingerprints,
    source_drift,
    MOJIBAKE_MARKERS,
    MOJIBAKE_SAMPLES,
    mojibake_stats,
    lang_confusion,
)
from ocr_pipeline_spark.streaming import (
    start_curate_stream,
    stream_window_counts,
)
from ocr_pipeline_spark.streaming.stream_extract import STREAM_WINDOW
from ocr_pipeline_spark.sources.synth_pages import (
    PAGES_SCHEMA,
    SYNTH_SEED,
    synth_pages,
)

# ---------------------------------------------------------------------------
# helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,2)")


# The synth fixtures the x_*, links, url and mm_* queries and their
# oracles share: _SYNTH_N pages of synth_pages' SYNTH_SEED corpus
# (x_diff_runs adds the next seed), the first _OVERLAY_N of them for
# x_debug_overlay, and _MEDIA_N synth_media items.
_SYNTH_N = 150
_OVERLAY_N = 30
_MEDIA_N = 200


def _synth_pages_df(
    spark: SparkSession, n: int = _SYNTH_N, seed: int = SYNTH_SEED
) -> DataFrame:
    return spark.createDataFrame(synth_pages(n, seed=seed), schema=PAGES_SCHEMA)


# DuckDB fragments mirroring ocr_pipeline_spark.operators.textstats — the
# oracle's only spelling of norm_text. Explicit whitespace class: RE2's \s
# lacks \x0b, which Java's has; trim(.., ' '): bare trim strips non-ASCII
# whitespace, Spark's trim only spaces.
_NORM = r"trim(regexp_replace(lower(coalesce(text, '')), '[\t\n\x0b\f\r ]+', ' ', 'g'), ' ')"
_TOKS = f"string_split({_NORM}, ' ')"
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
# per-token (doc_id, is_quality, bucket) rows — the classifier
# operator's bucketed view (operators/classifier.py), same quality
# predicates as the ts_quality_flags oracle, 48-bit md5 token hash
_QC_BUCKETED_SQL = f"""
  SELECT doc_id, is_quality,
         ('0x' || substr(md5(tok), 1, 12))::BIGINT % {DEFAULT_BUCKETS} AS bucket
  FROM (
    SELECT doc_id,
           ((n_tokens >= 5 AND n_tokens <= 100000)
            AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens
                 AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
            AND (50 * stop_hits >= n_tokens)) AS is_quality,
           unnest(toks) AS tok
    FROM (SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n_tokens,
                 length({_NORM}) AS n_chars,
                 len(list_filter({_TOKS},
                     x -> list_contains({_STOP_SQL}, x))) AS stop_hits
          FROM documents))
"""



def _grams_sql(n: int) -> str:
    """DuckDB mirror of ``dedup.shingles``: the distinct word n-grams of
    _NORM, or [_NORM] for docs shorter than n tokens."""
    return (
        f"case when len({_TOKS}) < {n} then [{_NORM}] else "
        f"list_distinct(list_transform(range(0, len({_TOKS}) - {n - 1}), "
        f"i -> array_to_string(({_TOKS})[i+1:i+{n}], ' '))) end"
    )


def _winnow_sql(src: str) -> str:
    """DuckDB mirror of ``textstats.winnow_fingerprints`` over the
    (doc_id, text) relation ``src``: CTEs t (tokens), h (WINNOW_K-gram
    hashes) and m (``fps``, the distinct minima of WINNOW_W-hash
    windows)."""
    return f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM {src}),
            h AS (SELECT doc_id,
                    list_transform(range(0, greatest(len(toks) - {WINNOW_K}, 0) + 1),
                      i -> ('0x' || substr(md5(array_to_string(
                             toks[i+1:i+{WINNOW_K}], ' ')), 1, 12))::BIGINT) AS hs
                  FROM t),
            m AS (SELECT doc_id,
                    list_distinct(list_transform(
                      range(0, greatest(len(hs) - {WINNOW_W}, 0) + 1),
                      i -> list_min(hs[i+1:i+{WINNOW_W}]))) AS fps
                  FROM h)"""


# textstats.repetition_stats' word n-grams: _grams_sql(REP_GRAM) with
# repeats kept.
_REP_GRAMS = (
    f"case when len({_TOKS}) < {REP_GRAM} then [{_NORM}] else "
    f"list_transform(range(0, len({_TOKS}) - {REP_GRAM - 1}), "
    f"i -> array_to_string(({_TOKS})[i+1:i+{REP_GRAM}], ' ')) end"
)


# DuckDB spellings of the operators/lm.py recipe steps, one each; the ten
# LM-family oracles are built from them. _THASHES: each token's 16-hex
# md5 (textstats.token_hash) as one array per document.
_THASHES = f"list_transform({_TOKS}, x -> substr(md5(x), 1, 16))"


def _bits_sql(q: str) -> str:
    """lm._bits: whole bits of a BIGINT q >= 1, floor(log2(q)) + 1."""
    return f"length(bin({q}))"


def _bp_sql(bits: str) -> str:
    """lm._bp: mean ``bits`` per token (``n_toks``) in basis points."""
    return f"cast(({SCALE_BP} * {bits}) // n_toks as bigint)"


def _unigram_sql(src: str) -> str:
    """lm._unigram_bits over the (.., thash) rows of CTE ``src``: CTEs
    c (thash, cnt), s (n_total, vocab) and lm (thash, cnt, vocab, bits)."""
    return f"""c AS (SELECT thash, cast(count(*) as bigint) AS cnt
                  FROM {src} GROUP BY thash),
            s AS (SELECT cast(sum(cnt) as bigint) AS n_total,
                         cast(count(*) as bigint) AS vocab FROM c),
            lm AS (SELECT thash, cnt, vocab,
                     {_bits_sql("(n_total + vocab) // (cnt + 1)")} AS bits
                   FROM c CROSS JOIN s)"""


def _pairs_sql(src: str) -> str:
    """lm._pair_rows: (doc_id, a, b) per adjacent pair of the ``hs``
    hash arrays of ``src``; DuckDB's positional multi-unnest zips the
    slice pair like Spark's arrays_zip."""
    return f"""SELECT doc_id, unnest(hs[1:(len(hs)-1)]) AS a,
                   unnest(hs[2:len(hs)]) AS b
            FROM {src} WHERE len(hs) >= 2"""


# lm.lm_surprisal and lm.head_split as CTEs: ex (doc_id, thash) per token,
# the unigram table, sc (doc_id, n_toks, sum_bits, surprisal_bp) and ph,
# the ntile(3) split by (surprisal_bp, doc_id).
_SURPRISAL_SQL = f"""ex AS (SELECT doc_id, unnest({_THASHES}) AS thash
                  FROM documents),
            {_unigram_sql("ex")},
            sc AS (SELECT *, {_bp_sql("sum_bits")} AS surprisal_bp
                   FROM (SELECT doc_id, cast(count(*) as bigint) AS n_toks,
                                cast(sum(bits) as bigint) AS sum_bits
                         FROM ex JOIN lm USING (thash) GROUP BY doc_id)),
            ph AS (SELECT doc_id, surprisal_bp,
                          cast(ntile(3) OVER (ORDER BY surprisal_bp, doc_id)
                               as bigint) AS split
                   FROM sc)"""


# ---------------------------------------------------------------------------
# flagship

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: the text-quality pipeline over documents —
    normalize → token stats → quality gates → language ID → per-lang
    rollup. (The extraction flagship itself runs in queries()['x_*'] and
    the pytest golden suite.)"""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    q = quality_flags(docs)
    l = lang_id(docs).select("doc_id", "lang_guess")
    return (
        q.join(l, "doc_id")
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_quality"), 1).otherwise(0)).alias("n_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "lang_guess")
    )


# ---------------------------------------------------------------------------
# queries

# Validation-priority ordering: the driver's correctness gate walks
# queries() in dict order and validates a bounded prefix per round, so
# the queries listed here go first, in this order: the ones with no
# green correctness row, or whose definition changed since their last
# green row, then the rest by the age of their newest green row,
# stalest first. Queries not listed follow in queries() order.
_VALIDATION_PRIORITY = [
    "ix_postings",
    "sim_rp_reduce",
    "cur_stream_parity",
    "sim_ivf_trained",
    "sim_semdedup",
    "cur_dsir",
    "dd_dup_spans",
    "dd_boilerplate",
    "dd_cross_source",
    "cur_source_drift",
    "ts_mojibake",
    "ts_card_scrub",
    "ct_fuzzy",
    "sim_hash_embed",
    "dd_url_dedup",
    "t_funnel",
    "t_retention",
    "ix_bm25",
    "sp_curriculum",
    "g_components",
    "sk_set_overlap",
    "q4_order_priority",
    "q14_promo_revenue",
    "ts_lang_confusion",
    "mm_dedup",
    "t_session_value",
    "qc_vs_lm",
    "dd_templates",
    "t_ewma",
    "g_degree_dist",
    "lm_stupid_backoff",
    "lm_vocab_coverage",
    "mm_features",
    "url_canonical",
    "url_rules",
    "st_window_counts",
    "t_asof_last_click",
    "t_interval_clicks",
    "t_sessions",
    "sp_hash_split",
    "cur_exact_keep",
    "cur_full_keep",
    "cur_incremental",
    "sp_pack",
    "sp_stratified",
    "x_extract_fused",
    "x_extract_blocks",
    "x_extract_regroup",
    "x_refine_sentences",
    "x_debug_overlay",
    "x_tsv_lines",
    "x_diff_runs",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "p_filter_project",
    "p_hot_domains",
    "p_json_extract",
    "j3_regroup_order",
    "j4_anti_customers",
    "j_full_outer",
    "o4_top_order_per_cust",
    "a5_error_rate",
    "a6_metrics_rollup",
    "a_percentiles",
    "a_pivot_daily",
    "a_rollup_stats",
    "w_lead_lag",
    "w_moving_avg",
    "w_rank_funcs",
    "set_common_users",
    "set_view_not_error",
    "semi_error_users",
    "dd_chunk_dedup",
    "sim_dup_clusters",
    "sk_heavy_hitters",
    "ml_kmeans_cells",
    "ct_contamination",
    "bpe_merges",
    "bpe_encode",
    "sp_epoch_shuffle",
    "sp_pack_bpe",
    "sp_zorder",
    "ts_nfc",
    "meta_profile",
    "meta_report",
]


def _prioritize(d: dict) -> dict:
    head = {k: d[k] for k in _VALIDATION_PRIORITY if k in d}
    return head | {k: v for k, v in d.items() if k not in head}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _prioritize({
        # -- relational operator surface (SURVEY.md §2.2-2.5 analogues) ----
        "q1_pricing_summary": _q1_pricing_summary,
        "p_filter_project": _p_filter_project,
        "j3_regroup_order": _j3_regroup_order,
        "j4_anti_customers": _j4_anti_customers,
        "o4_top_order_per_cust": _o4_top_order_per_cust,
        "a5_error_rate": _a5_error_rate,
        "q5_revenue_by_nation": _q5_revenue_by_nation,
        "q3_shipping_priority": _q3_shipping_priority,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q4_order_priority": _q4_order_priority,
        "q14_promo_revenue": _q14_promo_revenue,
        "q10_returned_items": _q10_returned_items,
        "q18_large_orders": _q18_large_orders,
        "semi_error_users": _semi_error_users,
        "a1_explode_tokens": _a1_explode_tokens,
        # the skew-mitigation pre-pass as a value-checked table (row
        # weight per domain + hot flag at the default 5% share)
        "p_hot_domains": _p_hot_domains,
        # -- training-data ops: text analysis ------------------------------
        "ts_token_stats": lambda s, d: token_stats(_t(s, d, "documents")),
        "ts_quality_flags": lambda s, d: quality_flags(_t(s, d, "documents")),
        "ts_langid": lambda s, d: lang_id(_t(s, d, "documents")),
        "ts_langid_multi": lambda s, d: lang_id_multi(_t(s, d, "documents")),
        # character-trigram profile lang-ID (textcat-style): profiles
        # derived deterministically from LANG_STOPWORDS, so the oracle
        # regenerates identical literals
        "ts_langid_ngram": lambda s, d: lang_id_ngram(
            _t(s, d, "documents")
        ),
        # Gopher-style repetition filters (gram text never crosses the
        # shuffle — hashed keys only; see repetition_stats docstring)
        "ts_repetition": lambda s, d: repetition_stats(_t(s, d, "documents")),
        # deterministic KMV distinct-count sketch (engine-portable
        # alternative to HLL++ — see operators/sketch.py); k=16 so the
        # estimation path fires on this corpus (vocab > k per lang)
        # KMV set algebra: union/intersection/Jaccard estimates of two
        # languages' distinct 2-gram sets from their k-row sketches
        # (operators/sketch.py:kmv_set_estimates, theta sampling)
        "sk_set_overlap": lambda s, d: kmv_set_estimates(
            _t(s, d, "documents")
            .select(
                "lang",
                F.explode_outer(shingles(F.col("text"), 2)).alias("sh"),
            )
            .filter(F.col("sh").isNotNull()),
            "lang",
            "sh",
            "en",
            "de",
            k=64,
        ),
        "sk_distinct_tokens": lambda s, d: kmv_distinct(
            _t(s, d, "documents")
            .select(
                "lang",
                F.explode_outer(tokens(F.col("text"))).alias("tok"),
            )
            .filter(F.col("tok").isNotNull()),
            "lang",
            "tok",
            k=16,
        ),
        # count-min sketch point lookups over the token stream — the
        # heavy-hitter companion of the KMV sketch (integer counts,
        # md5-salted rows, cellwise-mergeable; never undercounts)
        "sk_heavy_hitters": lambda s, d: cms_estimate(
            cms_state(
                _t(s, d, "documents")
                .select(
                    F.explode_outer(tokens(F.col("text"))).alias("tok")
                )
                .filter(F.col("tok").isNotNull()),
                "tok",
            ),
            list(_CMS_PROBES),
        ),
        # mergeable fixed-bin histogram quantiles (the deterministic
        # percentile_approx replacement — engine-portable integer math;
        # ≤64 (grp,bin,count) cells per lang cross the shuffle)
        "sk_quantiles": lambda s, d: hist_quantiles(
            _t(s, d, "documents"), "lang", "n_chars", bins=64
        ),
        # Bloom-filter membership (operators/bloom.py): build over the
        # en doc ids, probe EVERY doc id, report per-lang hit counts —
        # en proves no-false-negatives (n_maybe == n_probed == n_true),
        # the other langs exercise the false-positive path (m=1024 is
        # deliberately small so fps actually occur at this scale)
        "sk_bloom": lambda s, d: _sk_bloom(s, d),
        # sharded inverted index (operators/index.py): postings rows
        # (term, shard, df_shard, tf_shard, df, postings) for terms in
        # >= 10 docs; n_shards=2 exercises the stopword-skew bound.
        # postings packed array<bigint> -> ','-joined string for the
        # driver hash (the canonicalizer cannot sort/hash list columns
        # — the media_features_packed rule, pinned by
        # test_oracle_output_dtypes); bigint->string cast is exact and
        # identical in both engines
        # BM25-shaped exact-integer ranked retrieval over the corpus —
        # the search query the inverted index exists to answer
        # (operators/index.py:bm25_search); floor-log2 idf, bp-scaled
        # tf saturation, TakeOrderedAndProject top-k
        "ix_bm25": lambda s, d: bm25_search(
            _t(s, d, "documents"), _BM25_TERMS, k=_BM25_K
        ),
        "ix_postings": lambda s, d: term_postings(
            _t(s, d, "documents"), n_shards=2, min_df=10
        )
        .withColumn(
            "postings",
            F.array_join(F.col("postings").cast("array<string>"), ","),
        )
        .orderBy("term", "shard"),
        # exact fixed-point PageRank (operators/graph.py) over the
        # click-transition graph: per-user consecutive events (ordered
        # by ts, event_id) link their props.k pages; 3 iterations,
        # damping 0.85 — bit-identical ranks in both engines
        "g_pagerank": lambda s, d: _g_pagerank(s, d),
        # Bloom-gated incremental dedup (operators/bloom.py:bloom_gate):
        # even docs are the sealed corpus, odd docs + 5 re-ingested even
        # docs are the increment — exercises all three statuses ('new'
        # skips the exact join entirely, 'dup' planted re-ingests, 'fp'
        # real false positives at the undersized m=1024)
        "cur_bloom_gate": lambda s, d: _cur_bloom_gate(s, d),
        # asymmetric containment detection (operators/dedup.py:
        # containment_pairs): winnowing-fingerprint overlap with planted
        # truncated-half re-ingests — the quote/excerpt detector Jaccard
        # can't express; candidate join moves (fp, doc_id) bigints only
        "dd_containment": lambda s, d: _dd_containment(s, d),
        # anchor-link harvesting (operators/links.py) over the
        # deterministic synth corpus — kernel-is-spec VALUES oracle
        "x_links": lambda s, d: link_rows(_synth_pages_df(s)).orderBy(
            "src", "link_idx"
        ),
        # PageRank over the EXTRACTED page graph (links -> page_edges ->
        # graph.pagerank): the full extraction-to-ranking composition
        "g_pagerank_web": lambda s, d: pagerank(
            page_edges(_synth_pages_df(s))
        ).orderBy("node"),
        # connected components of the same extracted page graph —
        # mirror/site-island analysis (operators/graph.py:
        # connected_components; hash-min + pointer jumping)
        # degree distribution of the page graph (crawl sanity plot:
        # template/bot spikes vs power-law tail;
        # operators/graph.py:degree_distribution)
        "g_degree_dist": lambda s, d: degree_distribution(
            page_edges(_synth_pages_df(s))
        ).orderBy("direction", "degree"),
        "g_components": lambda s, d: connected_components(
            page_edges(_synth_pages_df(s))
        ).orderBy("node"),
        # bigram collocation mining (operators/collocations.py): top-50
        # adjacent pairs by fixed-point observed/expected lift — the
        # boilerplate-phrase detector; exact bigint math end to end
        "ts_collocations": lambda s, d: collocations(
            _t(s, d, "documents"), min_count=5, top_k=50
        ),
        # cross-doc pooling: corpus df -> per-doc tf-idf keyword top-k
        "ts_tfidf_top": lambda s, d: tfidf_top_terms(_t(s, d, "documents")),
        # PII redaction over documents + the planted PII_SAMPLES corpus
        # (clean synth text alone would make the check near-vacuous)
        "ts_pii_scrub": lambda s, d: with_scrubbed_text(
            _t(s, d, "documents")
            .select("doc_id", "text")
            .union(
                s.createDataFrame(
                    [(1_000_000 + i, t) for i, t in enumerate(PII_SAMPLES)],
                    "doc_id long, text string",
                )
            )
        ).select("doc_id", "scrubbed", "n_email", "n_ip", "n_phone"),
        # Luhn-validated credit-card redaction over documents + planted
        # card fixtures: shape candidates checksum-verified before any
        # replacement (operators/pii.py:with_card_scrub)
        "ts_card_scrub": lambda s, d: with_card_scrub(
            _t(s, d, "documents")
            .select("doc_id", "text")
            .union(
                s.createDataFrame(
                    [
                        (4_000_000 + i, t)
                        for i, t in enumerate(CARD_SAMPLES)
                    ],
                    "doc_id long, text string",
                )
            )
        ).select("doc_id", "card_scrubbed", "n_card"),
        # -- model-based quality scoring (operators/classifier.py):
        #    distill the heuristic is_quality label into a hashed
        #    token-bucket model, score every doc — fixed-point exact
        #    arithmetic so train+score is value-checked end-to-end
        # filter-agreement diagnostic: heuristic quality label vs LM
        # surprisal band (the FineWeb-style classifier-vs-perplexity
        # ablation matrix) — composes two oracled scorers; rate_bp =
        # quality share per band
        "qc_vs_lm": lambda s, d: (
            lambda q, h: q.join(h, "doc_id")
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.when(F.col("is_quality"), 1).otherwise(0))
                .cast("long")
                .alias("n_quality"),
            )
            .select(
                "split",
                "n_docs",
                "n_quality",
                F.expr("(10000 * n_quality) div n_docs")
                .cast("long")
                .alias("quality_rate_bp"),
            )
            .orderBy("split")
        )(
            quality_flags(_t(s, d, "documents")).select(
                "doc_id", "is_quality"
            ),
            head_split(_t(s, d, "documents"), n_splits=3).select(
                "doc_id", "split"
            ),
        ),
        "qc_bucket_weights": lambda s, d: bucket_weights(
            _t(s, d, "documents")
        ),
        "qc_scores": lambda s, d: quality_scores(_t(s, d, "documents")),
        # -- unigram-LM surprisal scoring (operators/lm.py): the
        #    CCNet/KenLM perplexity-filter stage in exact integer bits
        #    (length(bin(...)) is a cross-engine-exact floor-log2)
        "lm_doc_surprisal": lambda s, d: lm_surprisal(
            _t(s, d, "documents")
        ),
        # DSIR importance weights (arXiv:2302.03169): raw-vs-target
        # unigram cross-entropy difference in exact integer bits;
        # target = the corpus's own lang='en' slice (in-corpus, no
        # external data); selection composes with select_top_fraction
        "cur_dsir": lambda s, d: dsir_weights(
            _t(s, d, "documents"), F.col("lang") == "en"
        ),
        "lm_head_split": lambda s, d: head_split(
            _t(s, d, "documents"), n_splits=3
        ),
        # the SCALE form of head_split: threshold assignment from the
        # mergeable histogram sketch — no global ntile sort
        "lm_head_split_approx": lambda s, d: head_split_approx(
            _t(s, d, "documents"), n_splits=3
        ).orderBy("doc_id"),
        # context-aware upgrade: add-one conditional bigram bits after
        # a unigram first-token start (operators/lm.py:bigram_surprisal)
        "lm_bigram_surprisal": lambda s, d: bigram_surprisal(
            _t(s, d, "documents")
        ).orderBy("doc_id"),
        # stupid backoff (Brants et al. 2007): train on even doc_ids,
        # score odd — a genuine cross-corpus split so the backoff
        # branch fires (self-scoring never backs off; see
        # operators/lm.py:stupid_backoff)
        "lm_stupid_backoff": lambda s, d: stupid_backoff(
            _t(s, d, "documents").filter(F.col("doc_id") % 2 == 1),
            lm_docs=_t(s, d, "documents").filter(F.col("doc_id") % 2 == 0),
        ).orderBy("doc_id"),
        # tokenizer-sizing diagnostic: corpus-occurrence coverage of the
        # top-K vocabulary types, distributed top-k + bounded cumsum
        # (operators/lm.py:vocab_coverage)
        "lm_vocab_coverage": lambda s, d: vocab_coverage(
            _t(s, d, "documents"), ks=(1, 10, 100, 1000)
        ).orderBy("k"),
        # "take the best 25%" by soft score — distributed top-k
        # (TakeOrderedAndProject), deterministic via doc_id tie-break;
        # 0.25 is binary-exact so ceil(frac*N) matches across engines
        "qc_top_fraction": lambda s, d: select_top_fraction(
            _t(s, d, "documents"), frac=0.25
        ),
        # Unicode NFC canonicalization over documents + planted
        # decomposed/composed fixtures (synth corpus is pure ASCII —
        # vacuous otherwise); Arrow-batched unicodedata vs DuckDB's
        # native nfc_normalize
        # ftfy-style mojibake triage over documents + planted
        # double-encoded fixtures (synth corpus is pure ASCII —
        # vacuous otherwise); literal-substring replace() arithmetic,
        # no regex (operators/textstats.py:mojibake_stats)
        # language-ID evaluation vs corpus labels: per-class
        # precision/recall/F1 in basis points — the gate-quality report
        # (operators/textstats.py:lang_confusion); also value-checks the
        # flagship entry() confusion rollup's logic
        "ts_lang_confusion": lambda s, d: lang_confusion(
            _t(s, d, "documents")
        ).orderBy("lang"),
        "ts_mojibake": lambda s, d: mojibake_stats(
            _t(s, d, "documents")
            .select("doc_id", "text")
            .union(
                s.createDataFrame(
                    [
                        (3_000_000 + i, t)
                        for i, t in enumerate(MOJIBAKE_SAMPLES)
                    ],
                    "doc_id long, text string",
                )
            )
        ),
        "ts_nfc": lambda s, d: with_nfc_text(
            _t(s, d, "documents")
            .select("doc_id", "text")
            .union(
                s.createDataFrame(
                    [
                        (2_000_000 + i, t)
                        for i, t in enumerate(UNICODE_SAMPLES)
                    ],
                    "doc_id long, text string",
                )
            )
        ),
        # -- training-data ops: dedup --------------------------------------
        "dd_exact": lambda s, d: exact_dedup(_t(s, d, "documents")),
        "dd_minhash": lambda s, d: minhash_signatures(_t(s, d, "documents")),
        "dd_simhash": lambda s, d: simhash_signatures(_t(s, d, "documents")),
        # Manku-style multi-table bit-block LSH + hamming verify — the
        # SimHash companion of dd_lsh_pairs (see simhash_candidate_pairs)
        "dd_simhash_pairs": lambda s, d: simhash_candidate_pairs(
            simhash_signatures(_t(s, d, "documents"))
        ),
        "dd_lsh_pairs": _dd_lsh_pairs,
        # connected components over the SimHash pair graph (same
        # pointer-jumping operator, hamming-regime edges)
        "dd_simhash_clusters": lambda s, d: dup_clusters(
            simhash_candidate_pairs(
                simhash_signatures(_t(s, d, "documents"))
            ).select("doc_a", "doc_b")
        ),
        "dd_jaccard_bucket": _dd_jaccard_bucket,
        # passage-level exact dedup: k-token chunks, one corpus-wide
        # copy each (winner = min (doc_id, chunk_idx)), docs reassembled
        # from surviving chunks (see chunk_dedup docstring for the
        # scale shape: winner election shuffles 16-hex + ids only)
        "dd_chunk_dedup": lambda s, d: chunk_dedup(_t(s, d, "documents")),
        # RefinedWeb/CCNet ubiquitous-chunk boilerplate removal: drop a
        # k-token chunk from ALL documents iff its corpus document
        # frequency exceeds max_df (see boilerplate_scrub docstring)
        "dd_boilerplate": lambda s, d: boilerplate_scrub(
            _t(s, d, "documents")
        ),
        # cross-source shared-chunk matrix: distinct k-token chunk
        # hashes appearing in BOTH sources of each pair — syndication/
        # boilerplate provenance (operators/dedup.py:cross_source_chunks)
        # boilerplate template audit: top ubiquitous chunks with df,
        # occurrence count and example text (the list a reviewer reads
        # before picking max_df; operators/dedup.py:template_report)
        "dd_templates": lambda s, d: template_report(
            _t(s, d, "documents"), min_df=3, top_n=20
        ),
        "dd_cross_source": lambda s, d: cross_source_chunks(
            _t(s, d, "documents")
        ).orderBy("source_a", "source_b"),
        # per-source token-distribution drift vs the corpus: exact
        # integer TVD in basis points with out-of-vocab mass folded in
        # analytically (operators/textstats.py:source_drift)
        "cur_source_drift": lambda s, d: source_drift(
            _t(s, d, "documents")
        ).orderBy("grp"),
        # Lee et al. exact-substring dedup coverage: per-doc token
        # fraction covered by n-gram windows that also occur in another
        # document (interval union via lead(); see dup_spans docstring)
        "dd_dup_spans": lambda s, d: dup_spans(_t(s, d, "documents")),
        # -- training-data ops: fingerprinting -----------------------------
        "fp_rolling": lambda s, d: _t(s, d, "documents").select(
            "doc_id", rolling_hash(F.col("text")).alias("rhash")
        ),
        # explode_outer, NOT explode: plain explode triggers Catalyst's
        # InferFiltersFromGenerate, which pushes a size(<full winnow
        # tree>)>0 filter below the staged projections — re-inlining the
        # gram hashing into every window slice (measured 100× slower).
        # The arrays are never empty, so rows are identical.
        "fp_winnow": lambda s, d: winnow_fingerprints(_t(s, d, "documents"))
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .filter(F.col("fp").isNotNull()),
        # -- training-data ops: similarity search --------------------------
        "sim_topk_bruteforce": _sim_topk_bruteforce,
        # _SIM_THRESHOLD: the synth embeddings have no cos>=0.5 pairs —
        # a 0-row result would be a vacuous value check (103 pairs at
        # sf0.01 this way; the operator default stays 0.7)
        "sim_near_dup": lambda s, d: cosine_near_dup(
            _t(s, d, "embeddings"), threshold=_SIM_THRESHOLD
        ),
        # distributed Lloyd's k-means in exact fixed-point arithmetic —
        # the honest IVF-centroid trainer; 3 update rounds, assignment
        # under the final centroids (see operators/clustering.py)
        "ml_kmeans_cells": lambda s, d: kmeans_assign(_t(s, d, "embeddings")),
        # connected components over the embedding near-dup graph — the
        # same pointer-jumping operator, completing the clustering
        # matrix (minhash / simhash / embedding edges)
        "sim_dup_clusters": lambda s, d: dup_clusters(
            cosine_near_dup(_t(s, d, "embeddings"), threshold=_SIM_THRESHOLD)
            .select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
            )
        ).select(F.col("doc_id").alias("vec_id"), "cluster_id"),
        # ann/ivf: LSH and inverted-file scale paths — oracles replay the
        # same md5-seeded plane/centroid constants in SQL; recall is
        # additionally quantified vs brute force in tests/
        "sim_ann_topk": lambda s, d: ann_topk(
            _t(s, d, "embeddings"), query_ids=_SIM_QUERY_IDS
        ),
        "sim_ivf_topk": lambda s, d: ivf_topk(
            _t(s, d, "embeddings"), query_ids=_SIM_QUERY_IDS
        ),
        # the production ANN path: IVF under the k-means-TRAINED
        # codebook (exact fixed-point centroids → both engines derive
        # the identical codebook; bench.py measures its recall gain
        # over the md5 zero-training baseline). IVF_PROBE of KM_CELLS cells.
        "sim_ivf_trained": _sim_ivf_trained,
        # SemDeDup-style semantic dedup: exact fixed-point k-means cells
        # + greedy smallest-id keep inside each cell (_SIM_THRESHOLD, the
        # sim_near_dup non-vacuous rationale); the oracle replays the
        # full Lloyd chain in SQL and the same rounded cosine fold
        "sim_semdedup": lambda s, d: semantic_dedup(
            _t(s, d, "embeddings"), threshold=_SIM_THRESHOLD
        ),
        # Johnson-Lindenstrauss random projection 64d -> 16d
        # (operators/similarity.py:rp_project): scan-local fold dots
        # against md5-derived planes, rounded 4dp (the cos_sim recipe).
        # rp packed array<double> -> '%.4f'-joined string for the
        # driver hash (list columns are unhashable there); values are
        # pre-rounded to 4dp and -0.0-normalized, so the fixed-width
        # print is unambiguous in both engines
        # feature-hashing document embeddings (Weinberger 2009): the
        # training-free text featurizer bridging documents -> the
        # embedding ops; packed '%.4f' string per the array rule
        # (operators/similarity.py:hashed_embedding)
        "sim_hash_embed": lambda s, d: hashed_embedding(
            _t(s, d, "documents")
        ).orderBy("doc_id"),
        "sim_rp_reduce": lambda s, d: rp_project(_t(s, d, "embeddings"))
        .withColumn(
            "rp",
            F.array_join(
                F.transform("rp", lambda x: F.format_string("%.4f", x)),
                ",",
            ),
        )
        .orderBy("vec_id"),
        # connected components over LSH pairs → canonical duplicate
        # clusters (iterative pointer-jumping on the Spark side; the
        # oracle replays it as a DuckDB recursive-CTE reachability)
        "dd_dup_clusters": lambda s, d: dup_clusters(
            lsh_candidate_pairs(minhash_signatures(_t(s, d, "documents")))
        ),
        # -- multimodal plumbing (binary payloads — not expressible over
        #    the DuckDB views, so the oracles inline expectations computed
        #    by the SAME Python kernels (_parse / feature_of) the Spark
        #    UDFs call: a genuine value check, parity by construction).
        #    NULL-able columns are coalesced to sentinels on both sides
        #    (never NULL-mixed hash columns) --------------------------------
        # byte-identical media dedup over the synth table + a planted
        # duplicate slice (ids +1_000_000 carry byte-identical payloads
        # of ids < 20), so n_copies=2 groups provably exist
        # (operators/multimodal.py:media_dedup)
        "mm_dedup": lambda s, d: media_dedup(
            _media_df(s).unionByName(
                _media_df(s)
                .filter(F.col("media_id") < 20)
                .withColumn(
                    "media_id", F.col("media_id") + F.lit(1_000_000)
                )
            )
        ).orderBy("fingerprint"),
        "mm_decode_meta": lambda s, d: decode_media_meta(_media_df(s))
        .select(
            "media_id",
            "url",
            F.coalesce("kind", F.lit("")).alias("kind"),
            F.coalesce("width", F.lit(-1)).alias("width"),
            F.coalesce("height", F.lit(-1)).alias("height"),
            F.coalesce("n_frames", F.lit(-1)).alias("n_frames"),
            F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
            "n_bytes",
            "payload_sha256",
            F.coalesce("error", F.lit("")).alias("error"),
        )
        .orderBy("media_id"),
        # video frame fan-out (A1 for binary payloads): frame bytes are
        # sliced views sized by the header; serialized as sha256 + dims
        # for the value check (binary columns don't canonicalize)
        "mm_frames": lambda s, d: frame_sample(_media_df(s))
        .select(
            "media_id",
            "frame_idx",
            "width",
            "height",
            F.sha2("frame", 256).alias("frame_sha256"),
        )
        .orderBy("media_id", "frame_idx"),
        # array<double> serialized Python-side ('%.6f' join) — the driver
        # canonicalizer can't sort/hash array columns, and JVM/DuckDB
        # double→string formatting disagrees; see format_feature
        "mm_features": lambda s, d: media_features_packed(
            _media_df(s)
        ).orderBy("media_id"),
        # -- benchmark decontamination: every doc screened against the
        #    n-gram set of a "benchmark suite" (deterministically chosen
        #    as the doc_id%97==0 docs, so hits are guaranteed non-vacuous
        #    — those docs self-match at 100%) -------------------------------
        "ct_contamination": lambda s, d: contamination_flags(
            _t(s, d, "documents"),
            _t(s, d, "documents").filter(F.col("doc_id") % 97 == 0),
        ),
        # -- fuzzy decontamination: MinHash/LSH near-dup screen against
        #    a benchmark of every 10th doc re-keyed at +10M (literal
        #    copies, so the screen provably fires at jaccard 10000;
        #    genuine corpus near-dups surface too) ----------------------
        "ct_fuzzy": lambda s, d: fuzzy_decontam(
            _t(s, d, "documents"),
            _t(s, d, "documents")
            .filter(F.col("doc_id") % 10 == 0)
            .select(
                (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                "text",
            ),
        ).orderBy("doc_id"),
        # -- BPE tokenizer (operators/bpe.py): the distributed trainer
        #    runs real pair-count/argmax rounds on Spark; the oracle is
        #    the pure-Python kernel's merge table over the same corpus
        #    (kernel-is-spec, same as the x_* oracles)
        "bpe_merges": _bpe_merges_query,
        # expression-fold encoding of the documents corpus with the
        # TRAIN_CORPUS-learned merges (kernel-trained: proven equal to
        # the distributed trainer in tests/test_bpe.py); the oracle
        # replays the SAME left-to-right folds as generated DuckDB
        # list_reduce chains — a corpus-dependent cross-engine check
        # \x1f is the oracle's symbol separator: excluded from the text
        # on BOTH sides (translate/replace), so a corpus containing the
        # control char cannot silently corrupt the fold replay; bpe_ids
        # additionally validates the vocab_of id mapping (<unk>=0,
        # alphabet, merges in rank order) in the same pass
        "bpe_encode": lambda s, d: bpe_encode(
            _t(s, d, "documents").select(
                "doc_id", F.translate("text", "\x1f", "").alias("text")
            ),
            _bpe_merges(),
        ).select(
            "doc_id",
            F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
            F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    "bpe_tokens",
                    lambda t: F.greatest(
                        F.array_position(
                            F.array(
                                *[
                                    F.lit(v)
                                    for v in kernel_vocab_of(_bpe_merges())
                                ]
                            ),
                            t,
                        )
                        - 1,
                        F.lit(0).cast("long"),
                    ).cast("string"),
                ),
            ).alias("bpe_ids"),
        ),
        # -- curation composite: quality + lang + exact dedup ---------------
        "cur_exact_keep": lambda s, d: curate(
            _t(s, d, "documents"), langs=("en",), dedup="exact"
        ).select("doc_id"),
        # full pipeline: quality + lang + repetition drop + exact dedup
        # + PII scrub (threshold 0.08 ~ p95 of the synth corpus, so the
        # repetition gate demonstrably fires)
        "cur_full_keep": lambda s, d: curate(
            _t(s, d, "documents"),
            langs=("en",),
            dedup="exact",
            max_rep_ratio=0.08,
            scrub=True,
        ).select("doc_id", "text"),
        # append-mode curation: odd doc_ids are the "daily increment",
        # even doc_ids the already-kept corpus (known fingerprints only)
        "cur_incremental": _cur_incremental,
        # streaming curation replayed as real micro-batches vs the
        # batch definition — the dual-definition equivalence the pytest
        # streaming suite checks, surfaced to the driver's value gate
        "cur_stream_parity": _cur_stream_parity,
        # -- streaming operator in batch mode (identical plan) -------------
        "st_window_counts": lambda s, d: stream_window_counts(
            _t(s, d, "events"), ts_col="ts", key_col="event_type"
        ),
        # -- url canonicalization over the deterministic synth-page urls
        #    plus the EDGE_URLS corpus (exercises every rewrite step);
        #    the oracle inlines the same urls and applies the DuckDB
        #    chain DERIVED from the same _STEPS list (urlkit.py)
        # UT1/RefinedWeb-style URL blocklist: suffix-expanded domain +
        # path-prefix deny rules over synth urls + planted fixtures;
        # output is the compact (url, category) hit list
        # (operators/urlkit.py:url_rule_verdicts)
        "url_rules": lambda s, d: url_rule_verdicts(
            _synth_pages_df(s)
            .select("url")
            .union(
                s.createDataFrame(
                    [(u,) for u in BLOCK_FIXTURE_URLS], "url string"
                )
            ),
            s.createDataFrame(
                BLOCK_RULES, "domain string, path_prefix string, category string"
            ),
        ).orderBy("url"),
        # crawl-frontier URL dedup: canonicalize, then elect one raw
        # url per canonical form (operators/urlkit.py:url_dedup); same
        # synth+EDGE_URLS corpus as url_canonical so the collapses are
        # exercised (ports, fragments, trailing slashes, index.html)
        "dd_url_dedup": lambda s, d: url_dedup(
            _synth_pages_df(s)
            .select("url")
            .union(s.createDataFrame([(u,) for u in EDGE_URLS], "url string"))
        ).orderBy("canonical_url"),
        "url_canonical": lambda s, d: with_canonical_url(
            _synth_pages_df(s)
            .select("url")
            .union(s.createDataFrame([(u,) for u in EDGE_URLS], "url string"))
        ).select("url", "canonical_url").orderBy("url"),
        # -- deterministic train/valid/test split ---------------------------
        "sp_hash_split": lambda s, d: hash_split(
            _t(s, d, "documents").select("doc_id"),
            "doc_id",
            {"train": 0.8, "valid": 0.1, "test": 0.1},
        ),
        # deterministic per-stratum downsampling (data-mixing primitive)
        "sp_stratified": lambda s, d: stratified_sample(
            _t(s, d, "documents").select("doc_id", "lang"),
            id_col="doc_id",
            strata_col="lang",
            rates={"en": 0.5, "de": 1.0, "fr": 0.25},
            default_rate=0.1,
        ),
        # deterministic fixed-SIZE per-stratum sample (exactly k per
        # lang; md5-rank membership — rerun/append-stable, nested in k)
        "sp_reservoir": lambda s, d: reservoir_per_stratum(
            _t(s, d, "documents").select("doc_id", "lang"),
            id_col="doc_id",
            strata_col="lang",
            k=25,
        ),
        # per-domain quota (anti-domination gate): keep the top-30 docs
        # per source by n_chars, id tie-break — C4/Gopher-style cap
        "cur_domain_cap": lambda s, d: domain_cap(
            _t(s, d, "documents"),
            domain_col="source",
            cap=30,
            order_col="n_chars",
            id_col="doc_id",
        ),
        # sequence packing: (bin_idx, bin_offset) layout of docs into
        # 512-token training sequences, sharded by lang
        "sp_pack": lambda s, d: pack_sequences(
            _t(s, d, "documents").select(
                "doc_id",
                "lang",
                F.size(tokens(F.col("text"))).alias("n_toks"),
            ),
            token_col="n_toks",
            budget=512,
            shard_col="lang",
        ),
        # data mixing: per-source sampling rates hit target token
        # shares under a 2000-token budget (src3 at 10000bp exercises
        # the take-everything cap); exact bigint arithmetic throughout
        # temperature-scaled source shares (operators/splits.py:
        # temperature_shares): T=2 isqrt reweighting in exact integer
        # math — small sources upweighted vs their natural share
        "sp_mix_temperature": lambda s, d: temperature_shares(
            _t(s, d, "documents").select(
                "doc_id",
                "source",
                F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
            ),
            temperature_x2=4,
        ).orderBy("source"),
        "sp_mix_budget": lambda s, d: mix_token_budget(
            _t(s, d, "documents").select(
                "doc_id",
                "source",
                F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
            ),
            {"src0": 5000, "src1": 3000, "src2": 2000, "src3": 10000},
            budget=2000,
        ),
        # deterministic per-epoch training-order permutation: shard by
        # epoch-seeded md5, rank within shard — no RNG state anywhere
        # curriculum training order (Bengio 2009): surprisal-band
        # phases (head_split) x epoch-keyed in-phase permutation
        # (operators/splits.py:curriculum_order)
        "sp_curriculum": lambda s, d: curriculum_order(
            _t(s, d, "documents")
        ).orderBy("doc_id"),
        "sp_epoch_shuffle": lambda s, d: epoch_shuffle(
            _t(s, d, "documents").select("doc_id"), n_shards=4, epoch=1
        ),
        # packing driven by REAL tokenizer counts (bpe_encode composed
        # into pack_sequences — the production shape: bins sized by the
        # tokens the model will actually see, not whitespace counts)
        "sp_pack_bpe": lambda s, d: pack_sequences(
            _t(s, d, "documents")
            .select(
                "doc_id",
                "lang",
                F.translate("text", "\x1f", "").alias("text"),
            )
            .transform(
                # size() projected BELOW the join: the shuffle carries
                # (doc_id, n_toks) shorts, never the token arrays
                # (CLAUDE.md: joins move short keys only)
                lambda docs: docs.select("doc_id", "lang").join(
                    bpe_encode(docs, _bpe_merges()).select(
                        "doc_id",
                        F.size("bpe_tokens").cast("long").alias("n_toks"),
                    ),
                    "doc_id",
                )
            ),
            token_col="n_toks",
            budget=512,
            shard_col="lang",
        ),
        # -- temporal: as-of join / interval join / session windows --------
        # ordered-funnel analysis (windowFunnel semantics: greedy
        # earliest completion, strict order, 7-day window anchored at
        # step 1; operators/temporal.py:event_funnel)
        "t_funnel": lambda s, d: event_funnel(
            _t(s, d, "events")
        ).orderBy("user_id"),
        # cohort retention matrix over dialect-free epoch weeks
        # (operators/temporal.py:cohort_retention)
        "t_retention": lambda s, d: cohort_retention(
            _t(s, d, "events")
        ).orderBy("cohort_week", "week_offset"),
        # per-session value rollup (sessionize + the money recipe;
        # operators/temporal.py:session_values)
        # per-user EWMA of the value stream — deterministic sequential
        # left fold per key, identical operand order on both engines
        # (operators/temporal.py:ewma_values)
        "t_ewma": lambda s, d: ewma_values(
            _t(s, d, "events")
        ).orderBy("user_id"),
        "t_session_value": lambda s, d: session_values(
            _t(s, d, "events")
        ).orderBy("user_id", "session_start"),
        "t_asof_last_click": _t_asof_last_click,
        "t_interval_clicks": _t_interval_clicks,
        "t_sessions": _t_sessions,
        # -- table profiling: ANALYZE-style per-column stats, one scan -----
        "meta_profile": lambda s, d: profile_table(
            _t(s, d, "documents")
        ),
        # dataset-card rollup: doc/token totals, quality rate, exact-dup
        # count, lang/source breadth — one scan, bigint-exact
        "meta_report": lambda s, d: corpus_report(_t(s, d, "documents")),
        # -- metrics rollup / window frame / json projection / set op ------
        # hierarchical corpus stats: ROLLUP(lang, source) with a
        # grouping_id disambiguator (real NULLs vs rolled-up NULLs) —
        # Spark's rollup bit order is first-column-MSB, mirrored in the
        # oracle as 2*grouping(lang)+grouping(source)
        "a_rollup_stats": lambda s, d: _t(s, d, "documents")
        .rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "gid",
            "n_docs",
            "sum_chars",
        ),
        # full CUBE over (lang, source) — every grouping-set combination
        # in one Expand pass (the ROLLUP sibling above covers the
        # hierarchy-only sets); same first-column-MSB grouping_id recipe
        "a_grouping_sets": lambda s, d: _t(s, d, "documents")
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "gid",
            "n_docs",
            "sum_chars",
        ),
        "a6_metrics_rollup": _a6_metrics_rollup,
        "a_percentiles": _a_percentiles,
        "w_moving_avg": _w_moving_avg,
        "w_lead_lag": _w_lead_lag,
        "p_json_extract": _p_json_extract,
        "set_view_not_error": _set_view_not_error,
        "set_common_users": _set_common_users,
        "a_pivot_daily": _a_pivot_daily,
        "w_rank_funcs": _w_rank_funcs,
        "j_full_outer": _j_full_outer,
        "sp_zorder": _sp_zorder,
        "p_unpivot": _p_unpivot,
        # -- extraction pipeline (synthesized pages input; oracles inline
        #    the pure-Python kernel's outputs over the same deterministic
        #    corpus — the kernel IS the spec, same oracle as the pytest
        #    golden suite, surfaced to the driver's value-hash gate).
        #    error coalesced to '' (never a NULL-mixed hash column) -------
        "x_extract_fused": lambda s, d: extract_pages(_synth_pages_df(s))
        .withColumn("error", F.coalesce("error", F.lit("")))
        .orderBy("url"),
        "x_extract_blocks": lambda s, d: explode_blocks(
            segment_pages(_synth_pages_df(s))
        ).orderBy("url", "block_idx"),
        "x_extract_regroup": lambda s, d: regroup_blocks(
            explode_blocks(segment_pages(_synth_pages_df(s)))
        ).orderBy("url"),
        # K5 analogue: sentence sub-spans inside kept blocks
        "x_refine_sentences": lambda s, d: refine_sentence_spans(
            explode_blocks(segment_pages(_synth_pages_df(s)))
        ).orderBy("url", "block_idx", "sent_idx"),
        # K14 analogue (dev-only surface): span-highlight overlay; small
        # corpus — whole escaped documents are the payload
        "x_debug_overlay": lambda s, d: debug_overlay_pages(
            _synth_pages_df(s, n=_OVERLAY_N)
        )
        .select(
            "url",
            F.coalesce("overlay", F.lit("")).alias("overlay"),
            F.coalesce("error", F.lit("")).alias("error"),
        )
        .orderBy("url"),
        # S5 result.txt analogue: one TSV line per kept block
        # (pipeline/file_utils.py:48-51 wrote "bbox\ttext"; here
        # "span_start\tspan_end\ttext")
        "x_tsv_lines": lambda s, d: explode_blocks(
            segment_pages(_synth_pages_df(s))
        )
        .filter(F.col("is_content"))
        .select(
            "url",
            "block_idx",
            F.concat_ws(
                "\t",
                F.col("span_start").cast("string"),
                F.col("span_end").cast("string"),
                F.col("block_text"),
            ).alias("tsv_line"),
        )
        .orderBy("url", "block_idx"),
        # run-to-run extraction diff (the byte-identity promotion gate):
        # seed-42 vs seed-43 corpora overlap on 15 urls (1 same payload,
        # 14 diff) with 135 each side only — all four statuses exercised
        "x_diff_runs": lambda s, d: diff_extractions(
            extract_pages(_synth_pages_df(s)),
            extract_pages(_synth_pages_df(s, seed=SYNTH_SEED + 1)),
        ).orderBy("url"),
    })


def _p_hot_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-domain diagnostic (operators/partitioning.find_hot_domains)
    as a value-checked table: per-domain row weight over the deterministic
    synth-page urls + the hot flag at the ``HOT_SHARE`` (5%) share. The
    synth corpus has 3 planted hot domains (~16-19% each) over a ~4%
    tail, so both flag values are exercised."""
    from ocr_pipeline_spark.operators.partitioning import domain_of

    pages = _synth_pages_df(spark)
    stats = (
        pages.select(domain_of(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    total = stats.agg(F.sum("w").alias("t"))
    return stats.crossJoin(F.broadcast(total)).select(
        "domain",
        "w",
        (F.col("w") > F.lit(HOT_SHARE) * F.col("t")).alias("is_hot"),
    )


def _sk_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership end-to-end (operators/bloom.py): filter built
    over the en doc ids, every doc id probed, per-lang rollup. en rows
    pin the no-false-negative guarantee (n_maybe == n_probed); the four
    non-member langs measure real false positives at m=1024/k=3 (~14%
    at this fill — deliberately undersized so the fp path is hot)."""
    docs = _t(spark, sf_dir, "documents")
    words = bloom_build(
        docs.filter(F.col("lang") == "en").select(
            F.col("doc_id").cast("string").alias("v")
        ),
        "v",
        m_bits=1024,
        n_hashes=3,
    )
    probed = bloom_probe(
        docs.select(
            "doc_id", "lang", F.col("doc_id").cast("string").alias("v")
        ),
        words,
        "v",
        m_bits=1024,
        n_hashes=3,
    )
    return (
        probed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("maybe_member").cast("long")).alias("n_maybe"),
            F.sum((F.col("lang") == "en").cast("long")).alias("n_true"),
        )
        .orderBy("lang")
    )


def _cur_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated append-mode dedup: the even-doc_id half is the
    sealed corpus (fingerprints only, as in cur_incremental); the
    increment is the odd half plus the first 5 even docs re-ingested
    under doc_id+1_000_000 (planted exact dups, so the 'dup' branch is
    value-checked too, not just 'new'/'fp')."""
    docs = _t(spark, sf_dir, "documents")
    known = docs.filter(F.col("doc_id") % 2 == 0).select(
        fingerprint(F.col("text")).alias("fpr")
    )
    inc = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 10))
            .select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .select("doc_id", fingerprint(F.col("text")).alias("fpr"))
    )
    return (
        bloom_gate(inc, known, "fpr", m_bits=1024, n_hashes=3)
        .select("doc_id", "status")
        .orderBy("doc_id")
    )


@functools.cache
def _links_expected():
    """Pure-Python linkkit run over the deterministic synth pages — the
    expected (src, link_idx, href, resolved) rows for the x_links /
    g_pagerank_web oracles (the _extract_expected pattern)."""
    from ocr_pipeline_spark.kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES
    from ocr_pipeline_spark.kernels.htmlkit import decode_payload
    from ocr_pipeline_spark.kernels.linkkit import extract_links, resolve_href

    pdf = synth_pages(_SYNTH_N)
    rows = []
    for url, payload in zip(pdf.url, pdf.html):
        if payload is None or len(payload) == 0:
            continue
        if payload[:5] == b"%PDF-":
            continue
        doc, _ = decode_payload(bytes(payload)[:DEFAULT_MAX_PAYLOAD_BYTES])
        for i, href in enumerate(extract_links(doc)):
            rows.append((url, i, href, resolve_href(url, href)))
    return rows


def _x_links_oracle() -> str:
    rows = ", ".join(
        f"('{_sql_quote(u)}', {i}, '{_sql_quote(h)}', "
        + ("NULL" if r is None else f"'{_sql_quote(r)}'")
        + ")"
        for u, i, h, r in _links_expected()
    )
    return f"""
        SELECT src, link_idx::INTEGER AS link_idx, href, resolved
        FROM (VALUES {rows}) t(src, link_idx, href, resolved)
        ORDER BY src, link_idx
    """


def _g_degree_dist_oracle() -> str:
    """Degree histogram over the same inlined kernel-derived edges."""
    from ocr_pipeline_spark.operators.hashing import md5_int_py

    edges = ", ".join(
        f"({md5_int_py(u)}, {md5_int_py(r)})"
        for u, _, _, r in _links_expected()
        if r is not None
    )
    return f"""
        WITH e AS (SELECT src, dst FROM (VALUES {edges}) t(src, dst)),
        od AS (SELECT cast(count(*) as bigint) AS degree FROM e
               GROUP BY src),
        idg AS (SELECT cast(count(*) as bigint) AS degree FROM e
                GROUP BY dst)
        SELECT 'out' AS direction, degree,
               cast(count(*) as bigint) AS n_nodes
        FROM od GROUP BY degree
        UNION ALL
        SELECT 'in' AS direction, degree,
               cast(count(*) as bigint) AS n_nodes
        FROM idg GROUP BY degree
        ORDER BY direction, degree
    """


def _components_sql(pairs: str, a: str, b: str, node: str, label: str) -> str:
    """DuckDB mirror of ``dedup.dup_clusters`` (and so of
    ``graph.connected_components``): recursive-CTE reachability over the
    undirected edges (a, b) of the ``pairs`` query; each node is
    labelled with the smallest node it reaches. Output (node, label)."""
    return f"""
        WITH RECURSIVE base AS (SELECT {a} AS src, {b} AS dst FROM ({pairs}) p),
        edges AS (
          SELECT src, dst FROM base UNION SELECT dst, src FROM base),
        reach(a, b) AS (
          SELECT src, src FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b)
        SELECT a AS {node}, min(b) AS {label} FROM reach GROUP BY a
    """


def _g_components_oracle() -> str:
    """Recursive-CTE connected components over the SAME inlined
    kernel-derived edge list as the web pagerank oracle."""
    from ocr_pipeline_spark.operators.hashing import md5_int_py

    edges = ", ".join(
        f"({md5_int_py(u)}, {md5_int_py(r)})"
        for u, _, _, r in _links_expected()
        if r is not None
    )
    return _components_sql(
        f"SELECT src, dst FROM (VALUES {edges}) t(src, dst)",
        "src", "dst", "node", "component",
    ) + " ORDER BY node"


def _g_pagerank_web_oracle() -> str:
    from ocr_pipeline_spark.operators.hashing import md5_int_py

    edges = ", ".join(
        f"({md5_int_py(u)}, {md5_int_py(r)})"
        for u, _, _, r in _links_expected()
        if r is not None
    )
    return _pagerank_cte_chain(
        f"SELECT src, dst FROM (VALUES {edges}) t(src, dst)"
    )


def _dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over documents + 5 planted truncated halves
    (doc_id+2_000_000 carries the first half of doc_id<5's tokens) —
    each half is fully contained in its source (containment_bp 10000),
    plus whatever natural template overlap the synth corpus has."""
    from ocr_pipeline_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    halves = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(
            F.slice(
                tokens(F.col("text")),
                1,
                (F.size(tokens(F.col("text"))) / 2).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(halves)
    return containment_pairs(aug, threshold_bp=6000).orderBy(
        "src_id", "dst_id"
    )


def _click_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) click-transition edges: per user, consecutive events
    (ordered by ts with event_id tie-break) link their props.k pages.
    Ordering inputs are never NULL-mixed (ts/event_id are dense synth
    columns), per the sort-column rule."""
    ev = _t(spark, sf_dir, "events")
    page = F.get_json_object("props", "$.k").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id", page.alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
        .select("src", "dst")
    )


def _g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration exact PageRank over the click graph. The graph has
    ~100 page nodes with skewed in-degrees (popular pages), so ranks
    spread well away from the uniform 10000 start."""
    return pagerank(_click_edges(spark, sf_dir)).orderBy("node")


def _pagerank_cte_chain(edges_sql: str) -> str:
    """Unrolled fixed-point PageRank over any ``edges_sql`` CTE body
    (columns src, dst) — same integer ops as operators/graph.pagerank
    (div-per-edge, sum, damp), same uniform start, same default
    PAGERANK_ITERS rounds at DAMPING_BP."""
    its = []
    for i in range(1, PAGERANK_ITERS + 1):
        p = i - 1
        its.append(f"""
            c{i} AS (SELECT de.dst AS node,
                       cast(sum(r.rank_bp // de.outdeg) as bigint) AS in_bp
                     FROM de JOIN r{p} r ON de.src = r.node GROUP BY 1),
            r{i} AS (SELECT n.node,
                       cast({GRAPH_BP - DAMPING_BP}
                            + ({DAMPING_BP} * coalesce(c{i}.in_bp, 0)) // {GRAPH_BP}
                            as bigint) AS rank_bp
                     FROM nodes n LEFT JOIN c{i} USING (node))""")
    return f"""
        WITH edges AS ({edges_sql}),
        nodes AS (SELECT DISTINCT src AS node FROM edges
                  UNION SELECT DISTINCT dst FROM edges),
        deg AS (SELECT src, cast(count(*) as bigint) AS outdeg
                FROM edges GROUP BY 1),
        de AS (SELECT e.src, e.dst, d.outdeg
               FROM edges e JOIN deg d USING (src)),
        r0 AS (SELECT node, {GRAPH_BP}::BIGINT AS rank_bp FROM nodes),
        {",".join(its)}
        SELECT node, rank_bp FROM r{PAGERANK_ITERS} ORDER BY node
    """


def _pagerank_oracle() -> str:
    """g_pagerank oracle: the click-transition edge derivation feeding
    the shared iteration chain."""
    edges = """
        SELECT src, dst FROM (
          SELECT json_extract_string(props, '$.k')::BIGINT AS src,
                 lead(json_extract_string(props, '$.k')::BIGINT)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS dst
          FROM events) t WHERE dst IS NOT NULL
    """
    return _pagerank_cte_chain(edges)


def _w_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions (lag/lead/first_value): per-user
    inter-event gap in microseconds plus the session-anchor event — the
    event-sequence feature extraction shape. Deterministic order via
    the (ts, event_id) tie-break; gap NULLs coalesce to -1 (never
    NULL-mixed columns)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    next_id = F.lead("event_id").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            # TIMESTAMP_NTZ has no cast-to-long in Spark 4; at MICROSECOND
            # granularity timestamp_diff and DuckDB date_diff are both the
            # exact difference (coarser units diverge: DuckDB counts
            # boundary crossings, Spark truncates total micros)
            F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts")),
            F.lit(-1),
        ).cast("long").alias("gap_us"),
        F.coalesce(next_id, F.lit(-1)).alias("next_event_id"),
        F.first_value(F.col("event_id")).over(w).alias("anchor_event_id"),
    )


def _set_common_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT companion of set_view_not_error: users active with
    BOTH 'view' and 'click' events (distinct-set semantics)."""
    ev = _t(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    return views.intersect(clicks)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _a_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list (never inferred —
    an inference pass is an extra job and non-deterministic column
    order); one shuffle, map-side partial counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _EVENT_TYPES
            ],
        )
    )


def _w_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (rank / dense_rank / ntile) — integer-valued, so
    exactly comparable cross-engine; (value DESC, event_id) fully breaks
    ties. Both engines put NaN above all reals and NULLS LAST on DESC
    (events.value has neither at generator scales, checked)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def _j_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage: per-(user, day) purchase counts vs
    error counts — ~40% of keys are one-sided at both test scales, so
    both outer directions are exercised (never a vacuous join)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )
    return p.join(e, ["user_id", "day"], "full_outer").select(
        "user_id",
        "day",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
    )


def _p_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt) of the four lineitem measures — ONE
    scan via Spark's Expand node where the naive form (and the DuckDB
    oracle) is a 4-branch UNION ALL re-scanning the table per measure.
    Measures are exact 2-dp doubles, so the decimal(18,2) cast is
    lossless on both engines (the money recipe); the OUTPUT column is
    cast back to double on both sides because a raw DECIMAL output
    column breaks the driver's value hash (oracle dtype contract,
    pinned by tests/test_entry.py::test_oracle_output_dtypes)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1995-02-01")
    )
    m = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            *[_dec(c).alias(c) for c in m],
        )
        .unpivot(["l_orderkey", "l_linenumber"], m, "measure", "val")
        .withColumn("val", F.col("val").cast("double"))
    )


def _sp_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over events (day-number × user_id): the value
    a clustered write range-partitions files on. Bounds are computed (min/max
    pre-scan broadcast) so the driver check covers that path too; both
    the quantize CASE and the interleave SQL in the oracle are
    GENERATED from the same builders the Spark column uses
    (operators/layout.py quantize_case_sql / _zterms)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.datediff(
            F.col("ts").cast("date"), F.to_date(F.lit("2024-01-01"))
        ).alias("day_i"),
        "user_id",
    )
    return with_zvalue(ev, ["day_i", "user_id"]).select("event_id", "zval")


def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1995-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))),
                2,
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _p_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P8: pushed-down predicates + pruned projection."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 10) & (F.col("l_discount") <= 0.04)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


def _j3_regroup_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/O1: fan-in regroup with forced intra-group order."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                lambda s: s["l_partkey"].cast("string"),
            ),
            ",",
        ).alias("parts_in_order"),
        F.count(F.lit(1)).alias("n_items"),
    )


def _j4_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: anti-join (failure-routing analogue). Restricted to recent
    orders so the result is NONEMPTY at the driver's sf — an all-rows-
    match on an empty set proves nothing (every customer has *some*
    order in this data)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(o, "c_custkey", "left_anti").select("c_custkey", "c_name")


def _o4_top_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: top-1 by value per group (largest-contour analogue)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def _a5_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: success/error-rate aggregate per key."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
        F.round(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            4,
        ).alias("error_rate"),
    )


def _q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with broadcast dims (nation is tiny → broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def _q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective join + agg + top-k by revenue."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate (no join, no groupBy) —
    the pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: having-style aggregate filter + join back."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "o_custkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "l_orderkey")
        .limit(50)
    )


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority order counts over a date window,
    gated by an EXISTS (left-semi) on qualifying lineitems — the
    returned-flag stands in for the commit/receipt lateness predicate
    (those columns are not in the synth schema; the SHAPE — semi-join
    into a grouped count — is what Q4 exercises)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share over one year —
    conditional aggregation after a part join; the ratio divides two
    identically-derived doubles (decimal-sum → round(2) → double), so
    both engines produce the same quotient."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = j.agg(
        F.round(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )),
            2,
        ).cast("double").alias("promo"),
        F.round(F.sum(rev), 2).cast("double").alias("total"),
    )
    return agg.select(
        "promo",
        "total",
        F.round(F.lit(100.0) * F.col("promo") / F.col("total"), 4).alias(
            "promo_pct"
        ),
    )


def _semi_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 valid-split as a semi-join."""
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    errs = ev.filter(F.col("event_type") == "error").select("user_id")
    return users.join(errs, "user_id", "left_semi")


def _a1_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: fan-out explode + cross-doc pooling aggregate."""
    docs = _t(spark, sf_dir, "documents")
    # explode_outer: plain explode makes InferFiltersFromGenerate push a
    # size(tokens)>0 filter below the projection, re-evaluating the
    # normalize+split per row a second time (split is never empty anyway)
    return (
        docs.select(F.explode_outer(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


def _dd_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(docs), bands=4, rows_per_band=2)


def _dd_jaccard_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs + exact Jaccard verify — the production
    dedup path (curate_job uses the same composition). Candidate count is
    O(band collisions), never O(N²): the equi-join key (band_idx,
    band_key) is a hash, so the shuffle is skew-free by construction."""
    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_signatures(docs), bands=4, rows_per_band=2
    ).select("doc_a", "doc_b")
    return jaccard_verify(docs, pairs).select(
        "doc_a", "doc_b", "n_intersect", "n_union", "jaccard"
    )


# ix_bm25's query and the rows it keeps.
_BM25_TERMS = ("spark", "dup", "vector")
_BM25_K = 8
# Values sk_heavy_hitters looks up in the count-min sketch.
_CMS_PROBES = ("the", "data", "query", "zzz-not-in-corpus")
# Query vectors of the sim_* top-k queries.
_SIM_QUERY_IDS = [0, 1, 2, 3, 4]
# Cosine cut of the sim_* near-dup queries (the operator default is 0.7).
_SIM_THRESHOLD = 0.3


def _sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, query_ids=_SIM_QUERY_IDS)


def _sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k under a k-means-TRAINED codebook (the production ANN
    path; sim_ivf_topk pins the md5 zero-training baseline). The exact
    fixed-point trainer (clustering.kmeans_centroids) makes the learned
    codebook bit-identical across engines, so the oracle can re-derive
    it in SQL; the rescale/normalize steps here are the exact IEEE
    sequence the oracle replays (x/1e6, sequential-fold sum of squares,
    math.sqrt — correctly rounded, like DuckDB's sqrt — then x/norm).
    Mirrors bench.py's trained-codebook construction."""
    import math

    emb = _t(spark, sf_dir, "embeddings")
    trained = []
    for _, cv in sorted(kmeans_centroids(emb).items()):
        row = [x / KM_SCALE for x in cv]
        nrm = math.sqrt(sum(x * x for x in row))
        trained.append([x / nrm for x in row])
    return ivf_topk(emb, query_ids=_SIM_QUERY_IDS, centroids=trained)


def _cur_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode curation: the even-doc_id half plays the existing
    kept corpus (its content fingerprints are the ONLY thing carried
    over), the odd half is the new increment."""
    docs = _t(spark, sf_dir, "documents")
    known = curate(
        docs.filter(F.col("doc_id") % 2 == 0), langs=("en",), dedup="exact"
    ).select(fingerprint(F.col("text")).alias("fingerprint"))
    return curate_incremental(
        docs.filter(F.col("doc_id") % 2 == 1),
        known,
        langs=("en",),
        dedup="exact",
    ).select("doc_id")


def _cur_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-definition check for the streaming curation path (the
    reference's micro-batch bucket/trigger loop, message_queue/
    bucket.py:16-54, rebuilt as Structured Streaming): replay the
    documents table through start_curate_stream as REAL incremental
    micro-batches (4 input shards, maxFilesPerTrigger=1, availableNow
    drain — state carries across batches) and emit per-fingerprint keep
    counts. The oracle is the BATCH definition: the distinct content
    fingerprints passing the same quality gates, n_kept=1 each — the
    driver thereby checks that the replayed stream keeps exactly the
    batch-curate content set, exactly once per fingerprint.

    The winner ROW per fingerprint is arrival-order-dependent in a
    stream (dropDuplicatesWithinWatermark keeps the first seen), so the
    compared invariant is the kept fingerprint SET plus emission count
    — deterministic under any shard/arrival order. The replay uses an
    effectively-infinite watermark (no state eviction during a bounded
    backfill; a live deploy bounds it, trading state size for
    cross-window re-keeps). Driver-side collect is bounded: one row per
    distinct kept fingerprint (≤ corpus rows; ≤500 at sf0.01).
    """
    import glob
    import shutil
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        # deterministic synthetic event time (the documents table has no
        # timestamp column): one second per doc_id — the value never
        # reaches the output, it only drives the watermark machinery
        F.timestamp_seconds(
            F.lit(1_700_000_000).cast("long") + F.col("doc_id")
        ).alias("warc_ts"),
        "text",
        "lang",
    )
    tmp = tempfile.mkdtemp(prefix="cur_stream_parity_")
    try:
        src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
        docs.repartitionByRange(4, "doc_id").write.parquet(src)
        start_curate_stream(
            spark,
            src,
            out,
            ckpt,
            watermark="36500 days",
            available_now=True,
            max_files_per_trigger=1,
        ).awaitTermination()
        schema = "fingerprint string, n_kept long"
        if not glob.glob(f"{out}/*.parquet"):  # nothing kept: empty
            return spark.createDataFrame([], schema)
        rows = [
            (r["fingerprint"], r["n_kept"])
            for r in spark.read.parquet(out)
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
            .collect()
        ]
        return spark.createDataFrame(rows, schema)
    finally:
        # the working copy holds the full documents text — never leak
        # it on a failed replay (stream errors would otherwise skip the
        # cleanup and accumulate /tmp copies per attempt)
        shutil.rmtree(tmp, ignore_errors=True)


def _media_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(synth_media(_MEDIA_N), schema=MEDIA_SCHEMA)


def _a6_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/M3 + rollup: per-stage timer summary with an ALL total row."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


def _a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per stage (timer-summary analogue —
    M3; Spark `percentile` ≡ DuckDB `quantile_cont` bit-for-bit on the
    same doubles)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def _w_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window frame: 3-row moving sum/avg per user over time.
    Decimal frame-sum → exact doubles on both engines."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    msum = F.sum(_dec("value")).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        msum.alias("moving_sum"),
        F.round(msum / cnt, 4).alias("moving_avg"),
    )


def _p_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: JSON field extract + filter."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") >= 50)


def _t_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each error event, the value of that user's most
    recent click at or before the error (null if none)."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return asof_join(errors, clicks, ["user_id"], "ts", ["value"]).select(
        "event_id",
        "user_id",
        "ts",
        # null-free output: sorting mixed None/float breaks row compare
        F.coalesce(F.col("asof_value"), F.lit(-1.0)).alias("asof_value"),
    )


def _t_interval_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: clicks by the same user within 1 hour after each
    error."""
    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    return interval_join_count(errors, clicks, ["user_id"], "ts", "1 hour")


def _t_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap)."""
    return sessionize(_t(spark, sf_dir, "events"))


def _set_view_not_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: (user, day) pairs with views but no errors (EXCEPT).
    Keyed per-day, not per-user, so the result is NONEMPTY at the
    driver's sf (every user errors *eventually* in this data — a 0-row
    EXCEPT would be a vacuous value check)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "day")
        .distinct()
    )
    errs = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "day")
        .distinct()
    )
    return views.exceptAll(errs)


# ---------------------------------------------------------------------------
# oracles

def _rp_oracle() -> str:
    """sim_rp_reduce oracle: the same md5-derived plane constants
    (imported from operators/similarity._plane_constants, inlined as
    literals), the same sequential fold per component, the same
    round-4dp + (-0.0 -> +0.0) normalization, packed to a
    '%.4f'-joined string (printf vs format_string — identical for
    pre-rounded 4dp doubles) because the driver hash rejects list
    columns."""
    planes = _plane_constants(RP_DIM, VEC_DIM, RP_SEED)
    comps = ", ".join(
        f"printf('%.4f', round({_dot_sql('v', row)}, 4) + 0.0)"
        for row in planes
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id, concat_ws(',', {comps}) AS rp FROM e ORDER BY vec_id
    """


def _dot_sql(vec: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(c) for c in plane) + "]::DOUBLE[]"
    return (
        f"list_reduce(list_transform(list_zip({vec}, {lit}), "
        "p -> p[1] * p[2]), (acc, x) -> acc + x)"
    )


def _cos_sql(u: str, v: str) -> str:
    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_transform(list_zip({x}, {y}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)"
        )

    # coalesce mirrors the Spark side's nanvl guard (_sim4): a zero
    # vector is 0.0/0.0 → NULL in DuckDB, NaN→0.0 in Spark; with
    # non-null vectors NULL can only arise from that division, so
    # coalesce(…, 0) is exact
    return (
        f"coalesce(round({dot(u, v)} / (sqrt({dot(u, u)}) * sqrt({dot(v, v)})), 4), 0.0)"
    )


def _near_dup_sql() -> str:
    """LSH-bucketed near-dup oracle: the hyperplane constants are the SAME
    md5-derived doubles the Spark operator uses (imported, inlined as
    literals), and every float fold is sequence-identical — so bucket ids
    and cosines match bit-for-bit."""
    planes = _plane_constants(NEAR_DUP_PLANES, VEC_DIM)
    bucket = " + ".join(
        f"CASE WHEN {_dot_sql('v', p)} > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
        pairs AS (
          SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
                 {_cos_sql('x.v', 'y.v')} AS cos_sim
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= {_SIM_THRESHOLD}
    """


def _ann_topk_sql(query_ids: list[int]) -> str:
    """Multi-table LSH oracle mirroring similarity.ann_topk: same
    md5-derived hyperplanes per table (seed 1000*t), candidate = bucket
    match in ANY table, exact rounded cosine re-rank."""
    def bucket(vec: str, t: int) -> str:
        planes = _plane_constants(ANN_PLANES, VEC_DIM, 1000 * t)
        return " + ".join(
            f"CASE WHEN {_dot_sql(vec, p)} > 0 THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        )

    b_cols = ", ".join(f"{bucket('v', t)} AS b{t}" for t in range(ANN_TABLES))
    any_match = " OR ".join(f"x.b{t} = q.b{t}" for t in range(ANN_TABLES))
    ids = ", ".join(map(str, query_ids))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {b_cols} FROM e),
        q AS (SELECT * FROM b WHERE vec_id IN ({ids})),
        s AS (
          SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                 {_cos_sql('q.v', 'x.v')} AS cos_sim
          FROM b x JOIN q ON ({any_match}) AND x.vec_id <> q.vec_id)
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM s) WHERE rank <= {TOP_K}
    """


def _ivf_topk_sql(query_ids: list[int]) -> str:
    """IVF oracle mirroring similarity.ivf_topk: same md5-derived
    normalized centroids; nearest cell = struct-max of (score, cell)
    (lexicographic struct comparison in both engines); queries probe
    their IVF_PROBE best cells."""
    cents = _centroids(IVF_CELLS)
    scores = ", ".join(
        f"{{'score': {_dot_sql('v', c)}, 'cell': {i}}}"
        for i, c in enumerate(cents)
    )
    ids = ", ".join(map(str, query_ids))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (SELECT vec_id, v, [{scores}] AS scores FROM e),
        c AS (SELECT vec_id, v, list_max(scores).cell AS cell FROM sc),
        q AS (SELECT vec_id AS query_id, v AS qv,
                     unnest(list_transform(
                       list_slice(list_reverse(list_sort(scores)), 1, {IVF_PROBE}),
                       s -> s.cell)) AS q_cell
              FROM sc WHERE vec_id IN ({ids})),
        s AS (SELECT query_id, c.vec_id AS neighbor_id,
                     {_cos_sql('qv', 'c.v')} AS cos_sim
              FROM c JOIN q ON c.cell = q.q_cell AND c.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rank
          FROM s) WHERE rank <= {TOP_K}
    """


def _sql_quote(s: str) -> str:
    return s.replace("'", "''")


@functools.cache
def _extract_expected(seed: int = SYNTH_SEED):
    """Pure-Python kernel run over the deterministic synth pages — the
    expected values for the x_extract_* oracles. The kernels are
    Spark-free BY DESIGN (kernel-is-spec, CLAUDE.md): this is the same
    oracle the pytest golden suite uses, surfaced to the driver's
    value-hash gate. Cached per seed: the oracles share one kernel
    pass per corpus."""
    from ocr_pipeline_spark.kernels.extract import extract_document

    pdf = synth_pages(_SYNTH_N, seed=seed)
    return [(u, h, extract_document(h)) for u, h in zip(pdf.url, pdf.html)]


@functools.cache
def _synth_media_cached():
    return synth_media(_MEDIA_N)


@functools.cache
def _bpe_merges() -> list:
    """Kernel-trained merge table over BPE_CORPUS (cached; the shared
    kernels.bpe.default_merges construction). The distributed trainer
    produces the identical table (asserted in
    tests/test_bpe.py::test_distributed_train_equals_kernel)."""
    return kernel_default_merges()


def _bpe_merges_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training on the deterministic corpus; the merge
    table IS the result set (rank-ordered, one row per learned merge)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(BPE_CORPUS)],
        "doc_id long, text string",
    )
    merges = bpe_train(docs)
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged, m.pair_count) for m in merges],
        "rank long, left string, right string, merged string, "
        "pair_count long",
    )


def _bpe_merges_oracle() -> str:
    rows = [
        f"({m.rank}, '{_sql_quote(m.left)}', '{_sql_quote(m.right)}', "
        f"'{_sql_quote(m.merged)}', {m.pair_count})"
        for m in _bpe_merges()
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(rank, \"left\", \"right\", merged, pair_count)"
    )


# symbol separator: asserted absent from merge symbols (below) and
# EXCLUDED from the corpus text on both sides of the bpe_encode query
# (Spark translate / DuckDB replace), never assumed absent
_BPE_SEP = "\x1f"


def _bpe_fold_sql(prev: str, left: str, right: str) -> str:
    """One kernel ``apply_merge`` fold as DuckDB: symbols travel as a
    \\x1f-joined string, list_reduce's no-init first element is the
    natural seed, and a (left, right) hit appends ``right`` WITHOUT the
    separator — concatenation IS the merge. ``suffix`` needs the
    separator guard so only a whole last symbol matches ``left``."""
    for s in (left, right):
        assert "'" not in s and _BPE_SEP not in s, s
    return (
        f"list_reduce(string_split({prev}, '{_BPE_SEP}'), (acc,x) -> "
        f"CASE WHEN x='{right}' AND (acc='{left}' OR "
        f"suffix(acc,'{_BPE_SEP}{left}')) THEN acc||x "
        f"ELSE acc||'{_BPE_SEP}'||x END)"
    )


def _bpe_toks_sql() -> str:
    """(doc_id, toks) subquery: the generated fold-chain encoding of
    every document — shared by the bpe_encode and sp_pack_bpe oracles.
    Per word, char-split then one list_reduce fold per merge in rank
    order — the same left-to-right spec the Spark expression path and
    the kernel implement. The '' filter mirrors chars_col dropping the
    empty word ('' normalizes to [''] whose char split is empty on
    both engines); the inner replace mirrors the query-side translate
    excluding the \\x1f separator."""
    expr = f"array_to_string(string_split(w,''), '{_BPE_SEP}')"
    for m in _bpe_merges():
        expr = _bpe_fold_sql(expr, m.left, m.right)
    enc_word = (
        f"list_filter(string_split({expr}, '{_BPE_SEP}'), s -> s != '')"
    )
    return f"""
          SELECT doc_id,
                 flatten(list_transform({_TOKS}, w -> {enc_word})) AS toks
          FROM (SELECT doc_id, replace(text, chr(31), '') AS text
                FROM documents) documents
    """


def _bpe_encode_sql() -> str:
    """bpe_encode oracle over the shared fold-chain subquery."""
    # coalesce: DuckDB's array_to_string([]) is NULL, Spark's
    # concat_ws is '' (the dd_chunk_dedup recipe); the inner replace
    # mirrors the query-side translate excluding the \x1f separator;
    # id mapping: a list_position miss is 0-or-NULL depending on the
    # DuckDB version -> coalesce + greatest lands unknown symbols on
    # id 0 (<unk>) either way, matching Spark's
    # greatest(array_position-1, 0)
    vocab = "[" + ", ".join(
        f"'{_sql_quote(v)}'" for v in kernel_vocab_of(_bpe_merges())
    ) + "]"
    return f"""
        SELECT doc_id,
               coalesce(array_to_string(toks, ' '), '') AS bpe_text,
               len(toks)::BIGINT AS n_bpe_tokens,
               coalesce(array_to_string(list_transform(toks,
                 s -> greatest(coalesce(list_position({vocab}, s), 1) - 1,
                               0)::BIGINT),
                 ' '), '') AS bpe_ids
        FROM ({_bpe_toks_sql()})
    """


def _kmeans_assign_block(name: str, prev: str) -> str:
    """One Lloyd assignment CTE: integer distance folds
    (commutative-exact), row_number argmin with the cell tie-break."""
    dist = (
        f"list_reduce(list_transform(range(1, {VEC_DIM + 1}), "
        f"i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i])), (a,b) -> a+b)"
    )
    return (
        f"{name} AS (SELECT vec_id, v, cell FROM ("
        f"SELECT q.vec_id, q.v, c.cell, row_number() OVER ("
        f"PARTITION BY q.vec_id "
        f"ORDER BY {dist}, c.cell) AS rn "
        f"FROM q, {prev} c) WHERE rn = 1)"
    )


def _kmeans_ctes() -> str:
    """Shared Lloyd-replay CTE chain ``WITH q, c0, a1, c1, …, c{KM_ITERS}``
    over the default codebook (clustering.KM_CELLS cells)
    — quantize (floor(x·1e6+0.5), IEEE-identical), integer distance
    folds, truncating `//` centroid means (Spark's `div`; the
    operator's driver-side means use the same truncation). Used by the
    ml_kmeans_cells oracle (final assignment) and the sim_ivf_trained
    oracle (trained codebook = c{KM_ITERS} rescaled)."""
    sql = (
        "WITH q AS (SELECT vec_id, list_transform(embedding::DOUBLE[], "
        "x -> floor(x*1000000 + 0.5)::BIGINT) AS v FROM embeddings),\n"
        f"c0 AS (SELECT vec_id::INT AS cell, v AS cv FROM q "
        f"WHERE vec_id < {KM_CELLS})"
    )
    for t in range(1, KM_ITERS + 1):
        sql += ",\n" + _kmeans_assign_block(f"a{t}", f"c{t - 1}")
        sql += (
            f",\nc{t} AS (SELECT cell, list(m ORDER BY dim) AS cv FROM ("
            f"SELECT cell, u.i AS dim, sum(u.x) // count(*) AS m FROM ("
            f"SELECT cell, unnest(list_transform(range(0, {VEC_DIM}), "
            f"i -> struct_pack(i := i, x := v[i+1]))) AS u FROM a{t}) "
            f"GROUP BY cell, u.i) GROUP BY cell)"
        )
    return sql


def _kmeans_oracle() -> str:
    """ml_kmeans_cells oracle: the shared Lloyd chain plus the final
    assignment under the trained centroids."""
    sql = _kmeans_ctes()
    sql += ",\n" + _kmeans_assign_block("afinal", f"c{KM_ITERS}")
    return sql + "\nSELECT vec_id, cell FROM afinal"


def _semdedup_oracle() -> str:
    """sim_semdedup oracle: the shared Lloyd chain + final assignment
    (identical cells to ml_kmeans_cells), then the greedy smallest-id
    keep rule — a row is dropped iff some smaller-id same-cell row has
    rounded cosine >= threshold (the _cos_sql fold, sequence-identical
    to the Spark side). keep is non-null by construction (NOT IN over a
    non-null subquery; true when dropped is empty)."""
    sql = _kmeans_ctes()
    sql += ",\n" + _kmeans_assign_block("afinal", f"c{KM_ITERS}")
    return sql + f""",
        e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
        m AS (SELECT e.vec_id, afinal.cell, e.ev
              FROM e JOIN afinal ON e.vec_id = afinal.vec_id),
        dropped AS (SELECT DISTINCT y.vec_id AS did
                    FROM m x JOIN m y ON x.cell = y.cell
                                     AND x.vec_id < y.vec_id
                    WHERE {_cos_sql('x.ev', 'y.ev')} >= {_SIM_THRESHOLD})
        SELECT vec_id, cell,
               vec_id NOT IN (SELECT did FROM dropped) AS keep
        FROM m
    """


def _ivf_trained_sql(query_ids: list[int]) -> str:
    """sim_ivf_trained oracle: derive the codebook IN SQL (the shared
    Lloyd chain — data-dependent centroids cannot be inlined as
    constants the way the md5 codebook is), rescale each fixed-point
    centroid by the same exact IEEE steps the Spark side performs
    (x/1e6, sequential-fold sum of squares, correctly-rounded sqrt,
    x/norm — all bit-identical across engines), then replay ivf_topk:
    nearest cell = (score desc, cell desc) argmax matching Spark's
    struct array_max, queries probe their IVF_PROBE best cells, exact
    cosine re-rank with round-then-rank."""
    dot_vc = (
        "list_reduce(list_transform(list_zip(v, cd), p -> p[1] * p[2]), "
        "(acc, x) -> acc + x)"
    )
    ids = ", ".join(map(str, query_ids))
    return f"""
        {_kmeans_ctes()},
        cents AS (SELECT cell, list_transform(cv, x -> x / {float(KM_SCALE)})
                         AS cd0 FROM c{KM_ITERS}),
        centn AS (SELECT cell, list_transform(cd0, x -> x / sqrt(
                    list_reduce(list_transform(cd0, y -> y * y),
                                (a, b) -> a + b))) AS cd
                  FROM cents),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (SELECT vec_id, v, cell, {dot_vc} AS score FROM e, centn),
        assigned AS (SELECT vec_id, v, cell FROM (
            SELECT vec_id, v, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc) WHERE rn = 1),
        qp AS (SELECT vec_id AS query_id, v AS qv, cell AS q_cell FROM (
            SELECT vec_id, v, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
            FROM sc WHERE vec_id IN ({ids})) WHERE rn <= {IVF_PROBE}),
        s AS (SELECT query_id, assigned.vec_id AS neighbor_id,
                     {_cos_sql('qv', 'assigned.v')} AS cos_sim
              FROM assigned JOIN qp ON assigned.cell = qp.q_cell
                                   AND assigned.vec_id <> qp.query_id)
        SELECT query_id, rank, neighbor_id, cos_sim FROM (
          SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id)
                   AS rank
          FROM s) WHERE rank <= {TOP_K}
    """


def _x_diff_oracle() -> str:
    """x_diff_runs oracle: both kernel passes computed in Python, the
    diff classified here, inlined as VALUES (kernel-is-spec)."""
    old = {u: r.text_sha256 for u, _, r in _extract_expected()}
    new = {u: r.text_sha256 for u, _, r in _extract_expected(SYNTH_SEED + 1)}
    rows = []
    for u in sorted(set(old) | set(new)):
        o, n = old.get(u), new.get(u)
        status = (
            "only_new" if o is None
            else "only_old" if n is None
            else "same" if o == n
            else "diff"
        )
        rows.append(
            f"('{_sql_quote(u)}', '{o or ''}', '{n or ''}', '{status}')"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(url, old_sha, new_sha, status)"
    )


def _cms_oracle() -> str:
    """sk_heavy_hitters oracle: replay the count-min layout — same
    md5 row salts as operators/sketch.cms_state, probe cells inlined
    as Python-derived constants (the md5-constants recipe)."""
    from ocr_pipeline_spark.operators.hashing import md5_int_py

    rows_sql = " UNION ALL ".join(
        f"SELECT {r} AS row_idx, ('0x' || substr(md5('cms{r}_' || v), "
        f"1, 12))::BIGINT % {CMS_WIDTH} AS col_idx FROM toks"
        for r in range(CMS_DEPTH)
    )
    probe_vals = ", ".join(
        f"('{_sql_quote(v)}', {r}, {md5_int_py(f'cms{r}_{v}') % CMS_WIDTH})"
        for v in _CMS_PROBES
        for r in range(CMS_DEPTH)
    )
    return f"""
        WITH toks AS (
          SELECT unnest({_TOKS}) AS v FROM documents),
        cells AS (
          SELECT row_idx, col_idx, cast(count(*) as bigint) AS cnt
          FROM ({rows_sql}) GROUP BY row_idx, col_idx),
        probes AS (
          SELECT * FROM (VALUES {probe_vals})
          AS t(value, row_idx, col_idx))
        SELECT value, min(coalesce(cnt, 0::BIGINT)) AS est
        FROM probes LEFT JOIN cells USING (row_idx, col_idx)
        GROUP BY value
    """


def _dbl(v: float) -> str:
    # shortest round-trip repr, parsed back by DuckDB's string→double
    # cast — bit-exact for finite doubles (kernel densities always are)
    return f"'{v!r}'::DOUBLE"


def _x_fused_oracle() -> str:
    rows = [
        f"('{_sql_quote(u)}', '{_sql_quote(r.text)}', '{r.text_sha256}', "
        f"{r.n_blocks}, '{r.kind}', '{r.charset}', '{_sql_quote(r.error or '')}')"
        for u, _, r in _extract_expected()
    ]
    return f"""
        SELECT url, text, text_sha256, n_blocks::INTEGER AS n_blocks,
               kind, charset, error
        FROM (VALUES {", ".join(rows)})
             t(url, text, text_sha256, n_blocks, kind, charset, error)
    """


def _x_blocks_oracle() -> str:
    rows = []
    for u, _, r in _extract_expected():
        if r.error is not None:
            continue
        for pos, (b, keep) in enumerate(zip(r.blocks, r.flags)):
            rows.append(
                f"('{_sql_quote(u)}', {pos}, {b.block_idx}, {b.span_start}, "
                f"{b.span_end}, {b.n_chars}, {b.n_link_chars}, {b.n_tags}, "
                f"'{_sql_quote(b.tag_path)}', {_dbl(b.text_density)}, "
                f"{_dbl(b.link_density)}, {'TRUE' if keep else 'FALSE'}, "
                f"'{_sql_quote(b.text)}')"
            )
    return f"""
        SELECT url, pos::INTEGER AS pos, block_idx::INTEGER AS block_idx,
               span_start::BIGINT AS span_start, span_end::BIGINT AS span_end,
               n_chars::INTEGER AS n_chars,
               n_link_chars::INTEGER AS n_link_chars,
               n_tags::INTEGER AS n_tags, tag_path, text_density,
               link_density, is_content, block_text
        FROM (VALUES {", ".join(rows)})
             t(url, pos, block_idx, span_start, span_end, n_chars,
               n_link_chars, n_tags, tag_path, text_density, link_density,
               is_content, block_text)
    """


def _x_regroup_oracle() -> str:
    rows = []
    for u, _, r in _extract_expected():
        if r.error is not None:
            continue
        kept = sorted(
            (b for b, k in zip(r.blocks, r.flags) if k),
            key=lambda b: b.block_idx,
        )
        if not kept:
            continue
        text = BLOCK_SEPARATOR.join(b.text for b in kept)
        rows.append(f"('{_sql_quote(u)}', '{_sql_quote(text)}', {len(kept)})")
    return f"""
        SELECT url, text, n_content_blocks::BIGINT AS n_content_blocks
        FROM (VALUES {", ".join(rows)}) t(url, text, n_content_blocks)
    """


def _x_tsv_oracle() -> str:
    rows = []
    for u, _, r in _extract_expected():
        if r.error is not None:
            continue
        for b, keep in zip(r.blocks, r.flags):
            if keep:
                line = f"{b.span_start}\t{b.span_end}\t{b.text}"
                rows.append(
                    f"('{_sql_quote(u)}', {b.block_idx}, '{_sql_quote(line)}')"
                )
    return f"""
        SELECT url, block_idx::INTEGER AS block_idx, tsv_line
        FROM (VALUES {", ".join(rows)}) t(url, block_idx, tsv_line)
    """


def _x_refine_oracle() -> str:
    from ocr_pipeline_spark.kernels.refine import refine_sentences

    rows = []
    for u, _, r in _extract_expected():
        if r.error is not None:
            continue
        for b, keep in zip(r.blocks, r.flags):
            if not keep:
                continue
            for si, (s, e) in enumerate(refine_sentences(b.text)):
                rows.append(
                    f"('{_sql_quote(u)}', {b.block_idx}, {si}, {s}, {e}, "
                    f"'{_sql_quote(b.text[s:e])}')"
                )
    return f"""
        SELECT url, block_idx::INTEGER AS block_idx,
               sent_idx::INTEGER AS sent_idx,
               sent_start::INTEGER AS sent_start,
               sent_end::INTEGER AS sent_end, sentence
        FROM (VALUES {", ".join(rows)})
             t(url, block_idx, sent_idx, sent_start, sent_end, sentence)
    """


def _x_overlay_oracle() -> str:
    from ocr_pipeline_spark.kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES
    from ocr_pipeline_spark.kernels.htmlkit import decode_payload
    from ocr_pipeline_spark.kernels.overlay import render_overlay

    # synth_pages is sequentially seeded, so pages(_OVERLAY_N) is a
    # prefix of the cached pages(_SYNTH_N) kernel pass (pinned by
    # test_entry)
    rows = []
    for u, payload, r in _extract_expected()[:_OVERLAY_N]:
        if r.error is not None:
            overlay, err = "", r.error
        elif r.kind != "html":
            overlay, err = "", "overlay: html documents only"
        else:
            doc, _ = decode_payload(bytes(payload)[:DEFAULT_MAX_PAYLOAD_BYTES])
            overlay, err = render_overlay(doc, r.blocks, r.flags), ""
        rows.append(
            f"('{_sql_quote(u)}', '{_sql_quote(overlay)}', '{_sql_quote(err)}')"
        )
    return (
        "SELECT url, overlay, error FROM (VALUES "
        + ", ".join(rows)
        + ") t(url, overlay, error)"
    )


def _mm_dedup_oracle() -> str:
    """Expected (fingerprint, n_copies, canonical) for synth media plus
    the planted duplicate slice, replayed with Python hashlib.md5 over
    the same deterministic payload bytes and inlined as VALUES."""
    import hashlib as _hl

    pdf = _synth_media_cached()
    groups: dict[str, list[int]] = {}
    for mid, payload in zip(pdf.media_id, pdf.payload):
        fp = _hl.md5(bytes(payload)).hexdigest()
        groups.setdefault(fp, []).append(int(mid))
        if int(mid) < 20:
            groups[fp].append(int(mid) + 1_000_000)
    rows = ", ".join(
        f"('{fp}', {len(ids)}, {min(ids)})"
        for fp, ids in sorted(groups.items())
    )
    return f"""
        SELECT fingerprint, cast(n_copies as bigint) AS n_copies,
               cast(canonical_media_id as bigint) AS canonical_media_id
        FROM (VALUES {rows})
          t(fingerprint, n_copies, canonical_media_id)
        ORDER BY fingerprint
    """


def _mm_decode_meta_oracle() -> str:
    """Expected metadata for the deterministic synth media table, computed
    by the SAME ``_parse`` kernel the Spark UDF calls and inlined as a
    VALUES list (the payloads are binary — not expressible over the
    pre-registered DuckDB views). Sentinels match the registered query:
    kind/error → '', missing dims → -1."""
    import hashlib

    pdf = _synth_media_cached()
    rows = []
    for mid, url, payload in zip(pdf.media_id, pdf.url, pdf.payload):
        meta, err = _media_parse(payload)
        meta = meta or {}
        sha = hashlib.sha256(bytes(payload)).hexdigest()
        def dim(k: str) -> int:
            v = meta.get(k)
            return -1 if v is None else v

        rows.append(
            f"({int(mid)}, '{_sql_quote(url)}', "
            f"'{_sql_quote(meta.get('kind') or '')}', "
            f"{dim('width')}, {dim('height')}, {dim('n_frames')}, "
            f"{dim('sample_rate')}, "
            f"{len(payload)}, '{sha}', '{_sql_quote(err or '')}')"
        )
    return f"""
        SELECT media_id::BIGINT AS media_id, url, kind,
               width::INTEGER AS width, height::INTEGER AS height,
               n_frames::INTEGER AS n_frames,
               sample_rate::INTEGER AS sample_rate,
               n_bytes::BIGINT AS n_bytes, payload_sha256, error
        FROM (VALUES {", ".join(rows)})
             t(media_id, url, kind, width, height, n_frames, sample_rate,
               n_bytes, payload_sha256, error)
    """


def _mm_frames_oracle() -> str:
    """Expected sampled frames, computed by the SAME _parse + slicing
    rules the frame_sample kernel applies (multimodal.py)."""
    import hashlib

    pdf = _synth_media_cached()
    rows = []
    for mid, payload in zip(pdf.media_id, pdf.payload):
        meta, err = _media_parse(payload)
        if err or meta["kind"] != "video":
            continue
        w, h, f = meta["width"], meta["height"], meta["n_frames"]
        body = bytes(payload)[19:]
        for idx in range(0, f, FRAME_EVERY_K):
            frame = body[idx * w * h : (idx + 1) * w * h]
            sha = hashlib.sha256(frame).hexdigest()
            rows.append(f"({int(mid)}, {idx}, {w}, {h}, '{sha}')")
    return f"""
        SELECT media_id::BIGINT AS media_id, frame_idx::INTEGER AS frame_idx,
               width::INTEGER AS width, height::INTEGER AS height, frame_sha256
        FROM (VALUES {", ".join(rows)})
             t(media_id, frame_idx, width, height, frame_sha256)
    """


def _mm_features_oracle() -> str:
    """Expected feature strings, computed by the SAME feature_of /
    format_feature kernels the Spark UDF calls (multimodal.py) — byte
    parity by construction."""
    pdf = _synth_media_cached()
    values = ", ".join(
        f"({int(mid)}, '{format_feature(feature_of(payload))}')"
        for mid, payload in zip(pdf.media_id, pdf.payload)
    )
    return (
        "SELECT media_id::BIGINT AS media_id, feature_str "
        f"FROM (VALUES {values}) t(media_id, feature_str)"
    )


def _url_corpus() -> list[str]:
    """The url_canonical input rows: synth-page urls (from the cached
    kernel pass) + the EDGE_URLS rewrite-step corpus. Mirrors the Spark
    query's union exactly."""
    return [u for u, _, _ in _extract_expected()] + list(EDGE_URLS)


def _hash_embed_sql() -> str:
    """DuckDB replay of similarity.hashed_embedding over documents:
    (doc_id, n_toks, embed packed '%.4f' string): the sim_hash_embed
    oracle."""
    def signed(i: int) -> str:
        def hits(parity: int) -> str:
            return (
                f"len(list_filter(hs, h -> h % {EMBED_DIM} = {i} and "
                f"(h // {EMBED_DIM}) % 2 = {parity}))"
            )

        return f"{hits(1)} - {hits(0)} AS v{i}"

    counts = ",\n                     ".join(signed(i) for i in range(EMBED_DIM))
    sq = " + ".join(f"v{i} * v{i}" for i in range(EMBED_DIM))
    comps = ",\n                     ".join(
        f"CASE WHEN nrm = 0 THEN '0.0000' "
        f"ELSE printf('%.4f', round(v{i} / nrm, 4) + 0.0) END"
        for i in range(EMBED_DIM)
    )
    return f"""
            WITH t AS (SELECT doc_id,
                         list_transform({_TOKS},
                           x -> ('0x' || substr(md5(x), 1, 12))::BIGINT)
                           AS hs
                       FROM documents),
            c AS (SELECT doc_id, cast(len(hs) as bigint) AS n_toks,
                     {counts}
                  FROM t),
            n AS (SELECT *, sqrt({sq}) AS nrm FROM c)
            SELECT doc_id, n_toks,
                   concat_ws(',',
                     {comps}) AS embed
            FROM n"""


def _rule_url_corpus() -> list[str]:
    """The url_rules input rows: synth-page urls + the blocklist
    fixture corpus. Mirrors the Spark query's union exactly."""
    return [u for u, _, _ in _extract_expected()] + list(
        BLOCK_FIXTURE_URLS
    )


def oracle_sql() -> dict[str, str]:
    cos = (
        "round(list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (a, x) -> a + x)"
        " / (sqrt(list_reduce(list_transform(list_zip(qv, qv), p -> p[1] * p[2]), (a, x) -> a + x))"
        " * sqrt(list_reduce(list_transform(list_zip(v, v), p -> p[1] * p[2]), (a, x) -> a + x))), 4)"
    )
    P = MINHASH_P
    consts = minhash_perm_constants(DEFAULT_NUM_HASHES)
    sh_hash = f"(('0x' || substr(md5(s), 1, 12))::BIGINT % {P})"
    sig = lambda i: (  # noqa: E731
        f"list_min(list_transform({_grams_sql(DEFAULT_SHINGLE)}, "
        f"s -> ({consts[i][0]} * {sh_hash} + {consts[i][1]}) % {P}))"
    )
    lsh_pairs_sql = f"""
            WITH sigs AS (
              SELECT doc_id, {", ".join(f"{sig(i)} AS sig_{i}" for i in range(8))}
              FROM documents),
            bands AS (
              SELECT doc_id, band_idx,
                     case band_idx
                       when 0 then md5(sig_0::VARCHAR || '|' || sig_1::VARCHAR)
                       when 1 then md5(sig_2::VARCHAR || '|' || sig_3::VARCHAR)
                       when 2 then md5(sig_4::VARCHAR || '|' || sig_5::VARCHAR)
                       else        md5(sig_6::VARCHAR || '|' || sig_7::VARCHAR) end AS band_key
              FROM sigs, (SELECT unnest(range(0, 4)) AS band_idx))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """
    simhash_sql = f"""
            WITH t AS (
              SELECT doc_id,
                     list_transform({_TOKS}, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hashes
              FROM documents)
            SELECT doc_id,
                   cast(list_sum(list_transform(range(0, 60), i ->
                     case when list_sum(list_transform(hashes, h -> ((h >> i) & 1) * 2 - 1)) > 0
                          then (1::BIGINT << i) else 0::BIGINT end)) as bigint) AS simhash
            FROM t
        """
    # mirror of simhash_candidate_pairs: one table per block-combo from
    # the SAME simhash_table_combos list, key = concatenated block values
    per = SIMHASH_BITS // SIMHASH_BLOCKS
    blk = lambda i: f"((simhash >> {i * per}) & {(1 << per) - 1})"  # noqa: E731

    def key_of(combo: tuple[int, ...]) -> str:
        # same left fold as the Spark side: ((b0 << per) | b1) << per | b2
        key = blk(combo[0])
        for c in combo[1:]:
            key = f"(({key} << {per}) | {blk(c)})"
        return key
    tables_union = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {t} AS table_idx, "
        f"{key_of(combo)} AS table_key FROM sigs"
        for t, combo in enumerate(simhash_table_combos())
    )
    simhash_pairs_sql = f"""
            WITH sigs AS ({simhash_sql}),
            tables AS ({tables_union}),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     min(cast(bit_count(xor(a.simhash, b.simhash)) as integer)) AS hamming
              FROM tables a JOIN tables b
                ON a.table_idx = b.table_idx AND a.table_key = b.table_key
               AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}
        """
    return _prioritize({
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) AS sum_qty,
                   cast(round(sum(cast(l_extendedprice as decimal(18,2))), 2) as double) AS sum_base_price,
                   cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= timestamp '1995-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "p_filter_project": """
            SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_quantity >= 10 AND l_discount <= 0.04
        """,
        "j3_regroup_order": """
            SELECT l_orderkey,
                   string_agg(l_partkey::varchar, ',' ORDER BY l_linenumber, l_partkey) AS parts_in_order,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """,
        "j4_anti_customers": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= timestamp '1998-01-01')
        """,
        "o4_top_order_per_cust": """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn = 1
        """,
        "a5_error_rate": """
            SELECT user_id, count(*) AS n_events,
                   cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) AS n_errors,
                   round(cast(sum(case when event_type = 'error' then 1 else 0 end) as double) / count(*), 4) AS error_rate
            FROM events GROUP BY user_id
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < timestamp '1995-03-15'
              AND l_shipdate  > timestamp '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q6_forecast_revenue": """
            SELECT cast(round(sum(cast(l_extendedprice as decimal(18,2)) * cast(l_discount as decimal(18,2))), 2) as double) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= timestamp '1994-01-01'
              AND l_shipdate <  timestamp '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority,
                   cast(count(*) as bigint) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "q14_promo_revenue": """
            WITH j AS (
              SELECT p_type,
                     cast(l_extendedprice as decimal(18,2))
                     * (cast(1 as decimal(18,2))
                        - cast(l_discount as decimal(18,2))) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'),
            a AS (
              SELECT cast(round(sum(CASE WHEN p_type = 'PROMO' THEN rev
                                    ELSE cast(0 as decimal(18,2)) END), 2)
                          as double) AS promo,
                     cast(round(sum(rev), 2) as double) AS total
              FROM j)
            SELECT promo, total,
                   round(100.0 * promo / total, 4) AS promo_pct
            FROM a
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q18_large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING cast(round(sum(cast(l_quantity as decimal(18,2))), 2) as double) > 150)
            SELECT l_orderkey, o_custkey, o_orderdate, total_qty
            FROM big JOIN orders ON l_orderkey = o_orderkey
            ORDER BY total_qty DESC, l_orderkey LIMIT 50
        """,
        "q5_revenue_by_nation": """
            SELECT n_name,
                   cast(round(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))), 2) as double) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "semi_error_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "a1_explode_tokens": f"""
            SELECT token, count(*) AS n
            FROM (SELECT unnest({_TOKS}) AS token FROM documents)
            GROUP BY token HAVING count(*) >= 20
        """,
        "ts_token_stats": f"""
            SELECT doc_id,
                   len({_TOKS}) AS ws_tokens,
                   len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+')) AS words,
                   length({_NORM}) AS norm_chars,
                   len(regexp_extract_all(coalesce(text, ''), '[.,;:!?]')) AS punct_chars,
                   len(list_distinct({_TOKS})) AS distinct_tokens
            FROM documents
        """,
        "ts_quality_flags": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens, length({_NORM}) AS n_chars,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS stop_hits
              FROM documents)
            SELECT doc_id, n_tokens, stop_hits,
                   (n_tokens >= 5 AND n_tokens <= 100000) AS len_ok,
                   ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens) AS wlen_ok,
                   (50 * stop_hits >= n_tokens) AS stop_ok,
                   ((n_tokens >= 5 AND n_tokens <= 100000)
                    AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
                    AND (50 * stop_hits >= n_tokens)) AS is_quality
            FROM t
        """,
        "qc_bucket_weights": f"""
            WITH b AS ({_QC_BUCKETED_SQL})
            SELECT bucket,
                   cast(sum(CASE WHEN is_quality THEN 1 ELSE 0 END)
                        as bigint) AS n_quality,
                   cast(count(*) as bigint) AS n_total,
                   cast((1000000 * (sum(CASE WHEN is_quality THEN 1 ELSE 0 END)
                               + 1)) // (count(*) + 2) as bigint) AS weight
            FROM b GROUP BY bucket
        """,
        "qc_scores": f"""
            WITH b AS ({_QC_BUCKETED_SQL}),
            w AS (
              SELECT bucket,
                     (1000000 * (sum(CASE WHEN is_quality THEN 1 ELSE 0
                                 END) + 1)) // (count(*) + 2) AS weight
              FROM b GROUP BY bucket)
            SELECT doc_id,
                   cast(sum(weight) // count(*) as bigint) AS quality_score,
                   cast(count(*) as bigint) AS n_scored_tokens,
                   bool_or(is_quality) AS is_quality
            FROM b JOIN w USING (bucket)
            GROUP BY doc_id
        """,
        "lm_doc_surprisal": f"""
            WITH {_SURPRISAL_SQL}
            SELECT doc_id, n_toks, sum_bits, surprisal_bp FROM sc
        """,
        # cur_dsir: the lm CTEs twice — raw counts plus the lang='en'
        # target slice's counts over the SAME smoothing domain (raw
        # vocab; unseen-in-target => cnt 0 via left join); weight =
        # per-occurrence bits_raw - bits_target summed per doc. Both
        # engines' integer division truncates toward zero, so the
        # negative-capable logw_bp folds identically.
        "cur_dsir": f"""
            WITH {_SURPRISAL_SQL},
            t AS (SELECT doc_id FROM documents WHERE lang = 'en'),
            ct AS (SELECT thash, count(*) AS cnt_t
                   FROM ex JOIN t USING (doc_id) GROUP BY thash),
            st AS (SELECT cast(coalesce(sum(cnt_t), 0) as bigint)
                          AS n_total_t FROM ct),
            w AS (
              SELECT lm.thash,
                     lm.bits - {_bits_sql("(st.n_total_t + lm.vocab)"
                                          " // (coalesce(ct.cnt_t, 0) + 1)")}
                       AS diff
              FROM lm LEFT JOIN ct USING (thash) CROSS JOIN st)
            SELECT *, {_bp_sql("logw_bits")} AS logw_bp
            FROM (SELECT doc_id, cast(count(*) as bigint) AS n_toks,
                         cast(sum(diff) as bigint) AS logw_bits
                  FROM ex JOIN w USING (thash) GROUP BY doc_id)
        """,
        # lm_head_split_approx: lm surprisal CTEs + the sk_quantiles
        # histogram recipe (divide-first width, cum*10^4 >= p*n cut
        # bins) + bin-rank assignment — same integer ops end to end
        "lm_head_split_approx": f"""
            WITH {_SURPRISAL_SQL},
            b AS (SELECT min(surprisal_bp) AS lo, max(surprisal_bp) AS hi
                  FROM sc),
            wd AS (SELECT lo, (hi - lo + 64) // 64 AS w FROM b),
            binned AS (SELECT doc_id, surprisal_bp AS v, lo, w,
                              (surprisal_bp - lo) // w AS bin
                       FROM sc CROSS JOIN wd),
            state AS (SELECT bin, count(*) AS cnt
                      FROM binned GROUP BY bin),
            cdf AS (SELECT bin,
                      sum(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
                      sum(cnt) OVER () AS n
                    FROM state),
            th AS (SELECT
                     min(CASE WHEN cum * 10000 >= 3333 * n
                         THEN bin END) AS b0,
                     min(CASE WHEN cum * 10000 >= 6666 * n
                         THEN bin END) AS b1
                   FROM cdf)
            SELECT doc_id, v AS surprisal_bp,
                   cast(1 + (CASE WHEN bin > b0 THEN 1 ELSE 0 END)
                          + (CASE WHEN bin > b1 THEN 1 ELSE 0 END)
                        as bigint) AS split
            FROM binned CROSS JOIN th ORDER BY doc_id
        """,
        # lm_bigram_surprisal: replay the two count tables + per-entry
        # bits over the hash arrays
        "lm_bigram_surprisal": f"""
            WITH t AS (SELECT doc_id, {_THASHES} AS hs FROM documents),
            ex AS (SELECT unnest(hs) AS thash FROM t),
            {_unigram_sql("ex")},
            bgp AS ({_pairs_sql("t")}),
            bgc AS (SELECT a, b, cast(count(*) as bigint) AS c_ab
                    FROM bgp GROUP BY 1, 2),
            gb AS (SELECT bgc.a, bgc.b,
                     {_bits_sql("(lm.cnt + lm.vocab) // (bgc.c_ab + 1)")}
                       AS bits
                   FROM bgc JOIN lm ON bgc.a = lm.thash),
            fb AS (SELECT doc_id, cast(len(hs) as bigint) AS n_toks,
                          lm.bits AS fbits
                   FROM t JOIN lm ON hs[1] = lm.thash),
            pb AS (SELECT bgp.doc_id, cast(sum(gb.bits) as bigint)
                            AS pbits
                   FROM bgp JOIN gb ON bgp.a = gb.a AND bgp.b = gb.b
                   GROUP BY 1)
            SELECT *, {_bp_sql("sum_bits")} AS surprisal_bp
            FROM (SELECT fb.doc_id, fb.n_toks,
                         cast(fb.fbits + coalesce(pb.pbits, 0) as bigint)
                           AS sum_bits
                  FROM fb LEFT JOIN pb USING (doc_id))
            ORDER BY doc_id
        """,
        # lm_stupid_backoff: LM counts from even doc_ids, scoring over
        # odd; seen bigram = raw conditional frequency bits
        # len(bin(c_a // c_ab)), backoff = 1 + add-one unigram bits
        # (OOV folds in at cnt 0 => len(bin(N + V)))
        "lm_stupid_backoff": f"""
            WITH tl AS (SELECT doc_id, {_THASHES} AS hs
                        FROM documents WHERE doc_id % 2 = 0),
            ts AS (SELECT doc_id, {_THASHES} AS hs
                   FROM documents WHERE doc_id % 2 = 1),
            exl AS (SELECT unnest(hs) AS thash FROM tl),
            {_unigram_sql("exl")},
            oov AS (SELECT {_bits_sql("n_total + vocab")} AS bits FROM s),
            bgl AS ({_pairs_sql("tl")}),
            sb AS (SELECT bgc.a, bgc.b,
                     {_bits_sql("lm.cnt // bgc.c_ab")} AS bits_seen
                   FROM (SELECT a, b, cast(count(*) as bigint) AS c_ab
                         FROM bgl GROUP BY 1, 2) bgc
                   JOIN lm ON bgc.a = lm.thash),
            bgs AS ({_pairs_sql("ts")}),
            pp AS (SELECT bgs.doc_id,
                     coalesce(sb.bits_seen,
                              1 + coalesce(u2.bits,
                                           (SELECT bits FROM oov))) AS bits,
                     CASE WHEN sb.bits_seen IS NULL THEN 1 ELSE 0 END
                       AS bo
                   FROM bgs
                   LEFT JOIN sb ON bgs.a = sb.a AND bgs.b = sb.b
                   LEFT JOIN lm u2 ON bgs.b = u2.thash),
            pb AS (SELECT doc_id, cast(sum(bits) as bigint) AS pbits,
                          cast(sum(bo) as bigint) AS nbo
                   FROM pp GROUP BY 1),
            fb AS (SELECT doc_id, cast(len(hs) as bigint) AS n_toks,
                          coalesce(lm.bits, (SELECT bits FROM oov)) AS fbits
                   FROM ts LEFT JOIN lm ON hs[1] = lm.thash)
            SELECT *, {_bp_sql("sum_bits")} AS surprisal_bp
            FROM (SELECT fb.doc_id, fb.n_toks,
                         cast(fb.fbits + coalesce(pb.pbits, 0) as bigint)
                           AS sum_bits,
                         cast(coalesce(pb.nbo, 0) as bigint) AS n_backoff
                  FROM fb LEFT JOIN pb USING (doc_id))
            ORDER BY doc_id
        """,
        # lm_vocab_coverage: rank types by (cnt desc, thash asc),
        # cumulative occurrence mass at each requested K (saturates at
        # n_total past the vocabulary size)
        "lm_vocab_coverage": f"""
            WITH {_SURPRISAL_SQL},
            r AS (SELECT cast(row_number() OVER
                           (ORDER BY cnt DESC, thash) as bigint) AS rnk,
                         cast(sum(cnt) OVER
                           (ORDER BY cnt DESC, thash
                            ROWS UNBOUNDED PRECEDING) as bigint) AS cum
                  FROM c),
            ks AS (SELECT unnest([1, 10, 100, 1000]) AS k)
            SELECT cast(ks.k as bigint) AS k,
                   cast(coalesce(max(r.cum), 0) as bigint) AS covered,
                   cast((10000 * coalesce(max(r.cum), 0))
                        // any_value(s.n_total) as bigint) AS coverage_bp,
                   cast(any_value(s.n_total) as bigint) AS n_total,
                   cast(any_value(s.vocab) as bigint) AS vocab
            FROM ks CROSS JOIN s LEFT JOIN r ON r.rnk <= ks.k
            GROUP BY ks.k ORDER BY k
        """,
        # qc_vs_lm: the lm_head_split CTE joined to the quality
        # predicates of ts_quality_flags, grouped per band
        "qc_vs_lm": f"""
            WITH {_SURPRISAL_SQL},
            q AS (SELECT doc_id,
                         ((n_tokens >= 5 AND n_tokens <= 100000)
                          AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens
                               AND (n_chars - (n_tokens - 1))
                                   <= 12 * n_tokens)
                          AND (50 * stop_hits >= n_tokens))
                           AS is_quality
                  FROM (SELECT doc_id, len({_TOKS}) AS n_tokens,
                               length({_NORM}) AS n_chars,
                               len(list_filter({_TOKS},
                                 x -> list_contains({_STOP_SQL}, x)))
                                 AS stop_hits
                        FROM documents))
            SELECT ph.split,
                   cast(count(*) as bigint) AS n_docs,
                   cast(sum(CASE WHEN q.is_quality THEN 1 ELSE 0 END)
                        as bigint) AS n_quality,
                   cast((10000 * sum(CASE WHEN q.is_quality THEN 1
                                     ELSE 0 END)) // count(*) as bigint)
                     AS quality_rate_bp
            FROM ph JOIN q USING (doc_id)
            GROUP BY ph.split ORDER BY ph.split
        """,
        "lm_head_split": f"""
            WITH {_SURPRISAL_SQL}
            SELECT doc_id, surprisal_bp, split FROM ph
        """,
        "qc_top_fraction": f"""
            WITH b AS ({_QC_BUCKETED_SQL}),
            w AS (
              SELECT bucket,
                     (1000000 * (sum(CASE WHEN is_quality THEN 1 ELSE 0
                                 END) + 1)) // (count(*) + 2) AS weight
              FROM b GROUP BY bucket),
            s AS (
              SELECT doc_id,
                     cast(sum(weight) // count(*) as bigint) AS quality_score
              FROM b JOIN w USING (bucket)
              GROUP BY doc_id)
            SELECT doc_id, quality_score
            FROM s
            QUALIFY row_number() OVER (ORDER BY quality_score DESC,
                                       doc_id)
                    <= greatest(1, ceil(0.25 * (SELECT count(*) FROM s)))
        """,
        "ts_langid_ngram": (lambda sets: f"""
            WITH s AS (SELECT doc_id, ' ' || {_NORM} || ' ' AS p
                       FROM documents),
            t AS (SELECT doc_id,
                         list_transform(range(1, length(p) - 1),
                           i -> substr(p, i::INT, 3)) AS tri
                  FROM s)
            SELECT doc_id,
                   {", ".join(
                     "cast(len(list_filter(tri, g -> list_contains(["
                     + ", ".join(f"'{_sql_quote(g)}'" for g in sets[lang])
                     + f"], g))) as bigint) AS hits_{lang}"
                     for lang in LANGS
                   )},
                   CASE
                     WHEN greatest(hits_en, hits_de, hits_es, hits_fr) = 0
                       THEN 'unknown'
                     WHEN hits_en >= hits_de AND hits_en >= hits_es
                          AND hits_en >= hits_fr THEN 'en'
                     WHEN hits_de >= hits_es AND hits_de >= hits_fr
                       THEN 'de'
                     WHEN hits_es >= hits_fr THEN 'es'
                     ELSE 'fr'
                   END AS lang_guess
            FROM t
        """)(lang_trigram_sets()),
        # ts_mojibake: literal-substring replace() arithmetic over the
        # shared MOJIBAKE_MARKERS (no regex on either engine)
        "ts_mojibake": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {", ".join(
                f"({3_000_000 + i}, '{_sql_quote(t)}')"
                for i, t in enumerate(MOJIBAKE_SAMPLES)
              )}) AS t(doc_id, text)),
            h AS (SELECT doc_id, {" + ".join(
                "(length(coalesce(text, '')) - length(replace("
                f"coalesce(text, ''), '{_sql_quote(mk)}', ''))) // {len(mk)}"
                for mk in MOJIBAKE_MARKERS
              )} AS n_hits FROM d)
            SELECT doc_id, cast(n_hits as bigint) AS n_hits,
                   n_hits > 0 AS mojibake
            FROM h
        """,
        "ts_nfc": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {", ".join(
                f"({2_000_000 + i}, '{_sql_quote(t)}')"
                for i, t in enumerate(UNICODE_SAMPLES)
              )}) AS t(doc_id, text))
            SELECT doc_id,
                   nfc_normalize(coalesce(text, '')) AS nfc_text,
                   nfc_normalize(coalesce(text, ''))
                     != coalesce(text, '') AS changed
            FROM d
        """,
        "ts_langid": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS en_stop_hits
              FROM documents)
            SELECT doc_id, n_tokens, en_stop_hits,
                   case when {LANG_TOKENS_PER_HIT} * en_stop_hits >= n_tokens then 'en' else 'unknown' end AS lang_guess
            FROM t
        """,
        # ts_lang_confusion: the langid_multi CTE -> confusion counts
        # -> integer per-class metrics
        "ts_lang_confusion": (lambda sl: f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens,
                     {", ".join(
                         f"len(list_filter({_TOKS}, x -> list_contains("
                         f"{sl(lg)}, x))) AS {lg}_hits"
                         for lg in LANGS)}
              FROM documents),
            g AS (SELECT doc_id, n_tokens,
                         greatest(en_hits, de_hits, es_hits, fr_hits)
                           AS best,
                         en_hits, de_hits, es_hits, fr_hits
                  FROM t),
            gg AS (SELECT doc_id,
                          case when {LANG_TOKENS_PER_HIT} * best < n_tokens then 'unknown'
                               when en_hits = best then 'en'
                               when de_hits = best then 'de'
                               when es_hits = best then 'es'
                               when fr_hits = best then 'fr'
                               else 'unknown' end AS lang_guess
                   FROM g),
            conf AS (SELECT d.lang, gg.lang_guess,
                            cast(count(*) as bigint) AS n
                     FROM documents d JOIN gg USING (doc_id)
                     GROUP BY 1, 2),
            tp AS (SELECT lang, n AS tp FROM conf
                   WHERE lang = lang_guess),
            rt AS (SELECT lang, cast(sum(n) as bigint) AS n_true
                   FROM conf GROUP BY 1),
            ct AS (SELECT lang_guess AS lang,
                          cast(sum(n) as bigint) AS n_pred
                   FROM conf GROUP BY 1),
            o AS (SELECT rt.lang,
                         cast(coalesce(tp.tp, 0) as bigint) AS tp,
                         cast(coalesce(ct.n_pred, 0)
                              - coalesce(tp.tp, 0) as bigint) AS fp,
                         cast(rt.n_true - coalesce(tp.tp, 0) as bigint)
                           AS fn
                  FROM rt LEFT JOIN tp USING (lang)
                          LEFT JOIN ct USING (lang)),
            p AS (SELECT lang, tp, fp, fn,
                         cast((10000 * tp) // greatest(tp + fp, 1)
                              as bigint) AS precision_bp,
                         cast((10000 * tp) // greatest(tp + fn, 1)
                              as bigint) AS recall_bp
                  FROM o)
            SELECT lang, tp, fp, fn, precision_bp, recall_bp,
                   cast((2 * precision_bp * recall_bp)
                        // greatest(precision_bp + recall_bp, 1)
                        as bigint) AS f1_bp
            FROM p ORDER BY lang
        """)(
            lambda lg: "["
            + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lg])
            + "]"
        ),
        "ts_langid_multi": (lambda sl: f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens,
                     {", ".join(
                         f"len(list_filter({_TOKS}, x -> list_contains("
                         f"{sl(lg)}, x))) AS {lg}_hits"
                         for lg in LANGS)}
              FROM documents),
            g AS (SELECT *, greatest(en_hits, de_hits, es_hits, fr_hits) AS best FROM t)
            SELECT doc_id, n_tokens, en_hits, de_hits, es_hits, fr_hits,
                   case when {LANG_TOKENS_PER_HIT} * best < n_tokens then 'unknown'
                        when en_hits = best then 'en'
                        when de_hits = best then 'de'
                        when es_hits = best then 'es'
                        when fr_hits = best then 'fr'
                        else 'unknown' end AS lang_guess
            FROM g
        """)(
            lambda lg: "["
            + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lg])
            + "]"
        ),
        "sk_heavy_hitters": _cms_oracle(),
        "g_pagerank": _pagerank_oracle(),
        # ts_collocations: unigram + adjacent-bigram counts (unnest +
        # generate_subscripts zip positionally; lead() pairs adjacent
        # tokens per doc), same fixed-point lift, same tie-broken top-k
        "ts_collocations": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            tok0 AS (SELECT doc_id, unnest(toks) AS tok,
                            generate_subscripts(toks, 1) AS ord FROM t),
            tok AS (SELECT * FROM tok0 WHERE tok <> ''),
            uni AS (SELECT tok AS term, cast(count(*) as bigint) AS c
                    FROM tok GROUP BY 1),
            n AS (SELECT cast(sum(c) as bigint) AS n_total FROM uni),
            bg AS (SELECT tok AS a,
                          lead(tok) OVER (PARTITION BY doc_id
                                          ORDER BY ord) AS b
                   FROM tok),
            pairs AS (SELECT a, b, cast(count(*) as bigint) AS c_ab
                      FROM bg WHERE b IS NOT NULL GROUP BY 1, 2
                      HAVING count(*) >= 5)
            SELECT p.a, p.b, p.c_ab, ua.c AS c_a, ub.c AS c_b,
                   cast((10000 * p.c_ab * n.n_total) // (ua.c * ub.c)
                        as bigint) AS lift_bp
            FROM pairs p
            JOIN uni ua ON p.a = ua.term
            JOIN uni ub ON p.b = ub.term
            CROSS JOIN n
            ORDER BY lift_bp DESC, a, b LIMIT 50
        """,
        # cur_bloom_gate: replay bloom over the known fingerprints,
        # probe the increment (odd docs + 5 planted re-ingests), exact
        # IN-check only to split dup vs fp — same m=1024/k=3 layout
        "cur_bloom_gate": f"""
            WITH seeds AS (SELECT unnest([0, 1, 2]) AS s),
            known AS (SELECT DISTINCT substr(md5({_NORM}), 1, 16) AS fpr
                      FROM documents WHERE doc_id % 2 = 0),
            bits AS (SELECT DISTINCT
                       ('0x' || substr(md5(fpr || '#b' || s), 1, 12))::BIGINT
                         % 1024 AS pos
                     FROM known CROSS JOIN seeds),
            words AS (SELECT pos // 32 AS word_idx,
                             bit_or((1::BIGINT << (pos % 32)::INTEGER))
                               AS word
                      FROM bits GROUP BY 1),
            inc AS (SELECT doc_id, substr(md5({_NORM}), 1, 16) AS fpr
                    FROM documents WHERE doc_id % 2 = 1
                    UNION ALL
                    SELECT doc_id + 1000000, substr(md5({_NORM}), 1, 16)
                    FROM documents WHERE doc_id % 2 = 0 AND doc_id < 10),
            ppos AS (SELECT doc_id, fpr,
                       ('0x' || substr(md5(fpr || '#b' || s), 1, 12))::BIGINT
                         % 1024 AS pos
                     FROM inc CROSS JOIN seeds),
            phit AS (SELECT doc_id, fpr,
                       min(coalesce((word >> (pos % 32)::INTEGER) & 1, 0))
                         AS hit
                     FROM ppos LEFT JOIN words ON pos // 32 = word_idx
                     GROUP BY doc_id, fpr)
            SELECT doc_id,
                   CASE WHEN hit = 0 THEN 'new'
                        WHEN fpr IN (SELECT fpr FROM known) THEN 'dup'
                        ELSE 'fp' END AS status
            FROM phit ORDER BY doc_id
        """,
        # sk_bloom: replay the md5 positions, 32-bit word packing and
        # bit tests of operators/bloom.py (m=1024, k=3; '#b'||seed salt)
        "sk_bloom": """
            WITH seeds AS (SELECT unnest([0, 1, 2]) AS s),
            members AS (SELECT doc_id::VARCHAR AS v FROM documents
                        WHERE lang = 'en'),
            bits AS (SELECT DISTINCT
                       ('0x' || substr(md5(v || '#b' || s), 1, 12))::BIGINT
                         % 1024 AS pos
                     FROM members CROSS JOIN seeds),
            words AS (SELECT pos // 32 AS word_idx,
                             bit_or((1::BIGINT << (pos % 32)::INTEGER))
                               AS word
                      FROM bits GROUP BY 1),
            ppos AS (SELECT doc_id, lang,
                       ('0x' || substr(md5(doc_id::VARCHAR || '#b' || s),
                                       1, 12))::BIGINT % 1024 AS pos
                     FROM documents CROSS JOIN seeds),
            phit AS (SELECT doc_id, lang,
                       min(coalesce((word >> (pos % 32)::INTEGER) & 1, 0))
                         AS hit
                     FROM ppos LEFT JOIN words ON pos // 32 = word_idx
                     GROUP BY doc_id, lang)
            SELECT lang,
                   cast(count(*) as bigint) AS n_probed,
                   cast(sum(hit) as bigint) AS n_maybe,
                   cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        as bigint) AS n_true
            FROM phit GROUP BY lang ORDER BY lang
        """,
        "sk_quantiles": """
            WITH v AS (SELECT lang AS grp, n_chars AS v FROM documents
                       WHERE n_chars IS NOT NULL),
            b AS (SELECT grp, min(v) AS lo, max(v) AS hi
                  FROM v GROUP BY grp),
            wd AS (SELECT grp, lo, (hi - lo + 64) // 64 AS w FROM b),
            binned AS (SELECT v.grp, lo, w, (v - lo) // w AS bin
                       FROM v JOIN wd USING (grp)),
            state AS (SELECT grp, lo, w, bin, count(*) AS cnt
                      FROM binned GROUP BY grp, lo, w, bin),
            cdf AS (SELECT grp, lo, w, bin,
                           sum(cnt) OVER (PARTITION BY grp ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum,
                           sum(cnt) OVER (PARTITION BY grp) AS n
                    FROM state)
            SELECT grp AS lang,
                   cast(max(lo) as bigint) AS lo_value,
                   cast(max(w) as bigint) AS bin_width,
                   cast(max(n) as bigint) AS n,
                   cast(max(lo) + min(CASE WHEN cum * 10000 >= 5000 * n
                                      THEN bin END) * max(w) as bigint)
                     AS est_p50,
                   cast(max(lo) + min(CASE WHEN cum * 10000 >= 9000 * n
                                      THEN bin END) * max(w) as bigint)
                     AS est_p90,
                   cast(max(lo) + min(CASE WHEN cum * 10000 >= 9900 * n
                                      THEN bin END) * max(w) as bigint)
                     AS est_p99
            FROM cdf GROUP BY grp
        """,
        # ix_postings: replay the two-level (term, doc) -> (term,
        # shard) aggregation; list(doc_id ORDER BY doc_id) matches
        # sort_array(collect_list); sums cast per the dtype contract
        # ix_bm25: same integer BM25 formula (floored avgdl is spec)
        "ix_bm25": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            s AS (SELECT cast(count(*) as bigint) AS n_docs,
                         cast(sum(len(toks)) as bigint) AS total_len
                  FROM t),
            s2 AS (SELECT n_docs,
                          cast(total_len // n_docs as bigint) AS avgdl
                   FROM s),
            b AS (SELECT doc_id, cast(len(toks) as bigint) AS dl,
                         unnest(toks) AS tok
                  FROM t),
            m AS (SELECT doc_id, dl, tok,
                         cast(count(*) as bigint) AS tf
                  FROM b WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
                  GROUP BY 1, 2, 3),
            d AS (SELECT tok, cast(count(*) as bigint) AS df
                  FROM m GROUP BY 1),
            sc AS (SELECT m.doc_id,
                     cast(length(bin((s2.n_docs + 1) // (d.df + 1)))
                          as bigint)
                     * cast((10000 * m.tf * {10000 + BM25_K1_BP})
                            // (10000 * m.tf
                                + ({BM25_K1_BP} * ((10000 - {BM25_B_BP})
                                   + ({BM25_B_BP} * m.dl) // s2.avgdl))
                                  // 10000) as bigint) AS ts
                   FROM m JOIN d USING (tok) CROSS JOIN s2)
            SELECT doc_id, cast(sum(ts) as bigint) AS score,
                   cast(count(*) as bigint) AS n_terms_hit
            FROM sc GROUP BY 1
            ORDER BY score DESC, doc_id LIMIT {_BM25_K}
        """,
        "ix_postings": f"""
            WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term
                          FROM documents),
            td AS (SELECT term, doc_id, cast(count(*) as bigint) AS tf
                   FROM toks WHERE term IS NOT NULL AND term <> ''
                   GROUP BY 1, 2),
            packed AS (SELECT term, doc_id % 2 AS shard,
                              cast(count(*) as bigint) AS df_shard,
                              cast(sum(tf) as bigint) AS tf_shard,
                              coalesce(array_to_string(
                                  list(doc_id ORDER BY doc_id), ','),
                                  '') AS postings
                       FROM td GROUP BY 1, 2),
            g AS (SELECT *, cast(sum(df_shard) OVER (PARTITION BY term)
                                 as bigint) AS df
                  FROM packed)
            SELECT term, shard, df_shard, tf_shard, df, postings
            FROM g WHERE df >= 10 ORDER BY term, shard
        """,
        # sk_set_overlap: per-lang 2-gram KMV states (row_number <= k),
        # union selection, theta = its max, intersection below theta;
        # small-union CASE degenerates to exact counts like
        # sk_distinct_tokens
        "sk_set_overlap": f"""
            WITH t AS (SELECT lang, {_TOKS} AS toks, {_NORM} AS nrm
                       FROM documents
                       WHERE lang IN ('en', 'de')),
            sh AS (SELECT lang,
                          unnest(case when len(toks) < 2 then [nrm]
                                 else list_distinct(list_transform(
                                   range(0, len(toks) - 1),
                                   i -> array_to_string(
                                     toks[i+1:i+2], ' '))) end) AS s
                   FROM t),
            h AS (SELECT DISTINCT lang AS grp,
                         ('0x' || substr(md5(s), 1, 12))::BIGINT AS h
                  FROM sh),
            rk AS (SELECT grp, h,
                          row_number() OVER (PARTITION BY grp ORDER BY h)
                            AS rn
                   FROM h),
            st AS (SELECT grp, h FROM rk WHERE rn <= 64),
            est AS (SELECT grp, count(*) AS n, max(h) AS kth FROM st
                    GROUP BY grp),
            us AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
                   FROM (SELECT DISTINCT h FROM st)),
            u AS (SELECT cast(count(*) as bigint) AS n_union,
                         cast(max(h) as bigint) AS theta
                  FROM us WHERE rn <= 64),
            i AS (SELECT cast(count(*) as bigint) AS n_inter
                  FROM (SELECT h FROM st WHERE grp = 'en') a
                  JOIN (SELECT h FROM st WHERE grp = 'de') b USING (h)
                  CROSS JOIN u WHERE a.h <= u.theta),
            e2 AS (SELECT
                     max(CASE WHEN grp = 'en' THEN n END) AS n_a,
                     max(CASE WHEN grp = 'de' THEN n END) AS n_b,
                     max(CASE WHEN grp = 'en' THEN
                       CASE WHEN n < 64 THEN n
                            ELSE (63::BIGINT * 281474976710656)
                                 // greatest(kth, 1::BIGINT) END END)
                       AS est_a,
                     max(CASE WHEN grp = 'de' THEN
                       CASE WHEN n < 64 THEN n
                            ELSE (63::BIGINT * 281474976710656)
                                 // greatest(kth, 1::BIGINT) END END)
                       AS est_b
                   FROM est)
            SELECT cast(n_a as bigint) AS n_a,
                   cast(n_b as bigint) AS n_b,
                   cast(est_a as bigint) AS est_a,
                   cast(est_b as bigint) AS est_b,
                   n_union,
                   cast(CASE WHEN n_union < 64 THEN n_union
                        ELSE (63::BIGINT * 281474976710656)
                             // greatest(theta, 1::BIGINT) END as bigint)
                     AS est_union,
                   n_inter,
                   cast(CASE WHEN n_union < 64 THEN n_inter
                        ELSE (n_inter * 281474976710656::BIGINT)
                             // greatest(theta, 1::BIGINT) END as bigint)
                     AS est_intersection,
                   cast((10000 * n_inter) // greatest(n_union, 1::BIGINT)
                        as bigint) AS jaccard_bp
            FROM u CROSS JOIN i CROSS JOIN e2
        """,
        "sk_distinct_tokens": f"""
            WITH toks AS (SELECT lang, unnest({_TOKS}) AS tok FROM documents),
            h AS (SELECT DISTINCT lang AS grp,
                         ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
                  FROM toks),
            rk AS (SELECT grp, h,
                          row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
                   FROM h),
            g AS (SELECT grp, count(*) AS n_hashes, max(h) AS kth_hash
                  FROM rk WHERE rn <= 16 GROUP BY grp)
            SELECT grp AS lang, n_hashes, kth_hash,
                   (CASE WHEN n_hashes < 16 THEN n_hashes
                         ELSE (15::BIGINT * 281474976710656)
                              // greatest(kth_hash, 1::BIGINT)
                    END)::BIGINT AS est_distinct
            FROM g
        """,
        "ts_tfidf_top": f"""
            WITH terms AS (
              SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            t AS (SELECT doc_id, term, count(*) AS tf FROM terms
                  WHERE term <> '' GROUP BY 1, 2),
            d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            s AS (SELECT doc_id, term, tf, df,
                         round(tf * ln(n_docs / df), 4) AS score
                  FROM t JOIN d USING (term) CROSS JOIN n)
            SELECT doc_id, rank, term, tf, df, score FROM (
              SELECT doc_id, term, tf, df, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rank
              FROM s) WHERE rank <= {TFIDF_TOP_K}
        """,
        "ts_repetition": f"""
            WITH g AS (
              SELECT doc_id,
                     unnest({_REP_GRAMS}) AS g
              FROM documents),
            pg AS (SELECT doc_id, substr(md5(g), 1, 16) AS gk, count(*) AS c
                   FROM g GROUP BY 1, 2)
            SELECT doc_id, cast(sum(c) as bigint) AS n_grams,
                   count(*) AS n_distinct_grams,
                   cast(max(c) as bigint) AS top_gram_count,
                   round(1.0 - count(*) / sum(c), 4) AS rep_ratio,
                   round(max(c) / sum(c), 4) AS top_gram_frac
            FROM pg GROUP BY doc_id
        """,
        # ts_card_scrub: same CARD_RE + LUHN_SQL bodies; list_reduce
        # over list_prepend(text, valid) replays the literal fold
        "ts_card_scrub": f"""
            WITH d AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {", ".join(
                f"({4_000_000 + i}, '{_sql_quote(t)}')"
                for i, t in enumerate(CARD_SAMPLES)
              )}) AS t(doc_id, text)),
            v AS (SELECT doc_id, coalesce(text, '') AS t,
                    list_filter(
                      regexp_extract_all(coalesce(text, ''),
                                         '{CARD_RE}'),
                      c -> {LUHN_SQL("c", "duckdb")}) AS valid
                  FROM d)
            SELECT doc_id,
                   list_reduce(list_prepend(t, valid),
                     (acc, c) -> replace(acc, c, '<CARD>'))
                     AS card_scrubbed,
                   cast(len(valid) as bigint) AS n_card
            FROM v
        """,
        "ts_pii_scrub": f"""
            WITH src AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT * FROM (VALUES {", ".join(
                  f"({1_000_000 + i}::BIGINT, '{_sql_quote(t)}')"
                  for i, t in enumerate(PII_SAMPLES)
              )}) t(doc_id, text))
            SELECT doc_id, {PII_STEPS_SQL("coalesce(text, '')")} AS scrubbed,
                   {PII_COUNT_SQL("coalesce(text, '')", 0)}::INTEGER AS n_email,
                   {PII_COUNT_SQL("coalesce(text, '')", 1)}::INTEGER AS n_ip,
                   {PII_COUNT_SQL("coalesce(text, '')", 2)}::INTEGER AS n_phone
            FROM src
        """,
        "dd_exact": f"""
            SELECT substr(md5({_NORM}), 1, 16) AS fingerprint,
                   count(*) AS n_docs, min(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1
        """,
        "dd_minhash": f"""
            SELECT doc_id, {", ".join(f"{sig(i)} AS sig_{i}" for i in range(8))}
            FROM documents
        """,
        "dd_simhash": simhash_sql,
        "dd_simhash_pairs": simhash_pairs_sql,
        # ct_fuzzy: the lsh_pairs chain over corpus UNION re-keyed
        # benchmark (+10M), cross-set gate on the id range, exact
        # shingle-Jaccard verify in integer basis points
        "ct_fuzzy": f"""
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000 AS doc_id, text FROM documents
              WHERE doc_id % 10 = 0),
            sigs AS (
              SELECT doc_id, {", ".join(f"{sig(i)} AS sig_{i}" for i in range(8))}
              FROM u),
            bands AS (
              SELECT doc_id, band_idx,
                     case band_idx
                       when 0 then md5(sig_0::VARCHAR || '|' || sig_1::VARCHAR)
                       when 1 then md5(sig_2::VARCHAR || '|' || sig_3::VARCHAR)
                       when 2 then md5(sig_4::VARCHAR || '|' || sig_5::VARCHAR)
                       else        md5(sig_6::VARCHAR || '|' || sig_7::VARCHAR) end AS band_key
              FROM sigs, (SELECT unnest(range(0, 4)) AS band_idx)),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
               AND (a.doc_id >= 10000000) != (b.doc_id >= 10000000)
              GROUP BY 1, 2),
            sh AS (SELECT doc_id, {_grams_sql(DEFAULT_SHINGLE)} AS sh FROM u),
            ver AS (
              SELECT case when doc_a >= 10000000 then doc_b
                          else doc_a end AS doc_id,
                     (10000 * len(list_intersect(sa.sh, sb.sh)))
                       // (len(sa.sh) + len(sb.sh)
                           - len(list_intersect(sa.sh, sb.sh))) AS jbp
              FROM pairs JOIN sh sa ON pairs.doc_a = sa.doc_id
                         JOIN sh sb ON pairs.doc_b = sb.doc_id),
            pd AS (SELECT doc_id,
                          cast(count(*) as bigint) AS n_bench_candidates,
                          cast(max(jbp) as bigint) AS best_jaccard_bp
                   FROM ver GROUP BY 1)
            SELECT d.doc_id,
                   cast(coalesce(pd.n_bench_candidates, 0) as bigint)
                     AS n_bench_candidates,
                   cast(coalesce(pd.best_jaccard_bp, 0) as bigint)
                     AS best_jaccard_bp,
                   coalesce(pd.best_jaccard_bp, 0) >= 5000
                     AS fuzzy_contaminated
            FROM documents d LEFT JOIN pd USING (doc_id)
            ORDER BY d.doc_id
        """,
        "dd_lsh_pairs": lsh_pairs_sql,
        "dd_simhash_clusters": _components_sql(
            simhash_pairs_sql, "doc_a", "doc_b", "doc_id", "cluster_id"
        ),
        # Spark side: iterative hash-min + pointer jumping; oracle:
        # recursive-CTE reachability — cluster_id = min reachable doc_id
        "dd_dup_clusters": _components_sql(
            lsh_pairs_sql, "doc_a", "doc_b", "doc_id", "cluster_id"
        ),
        # dd_dup_spans: per-doc duplicated-span coverage — 8-token
        # windows hashed with the 48-bit md5 recipe, a window is dup
        # when its hash spans >=2 docs, coverage = interval union via
        # lead(); integer basis points (the dd_containment recipe),
        # sum()/`//` cast to bigint per the HUGEINT rule
        "dd_dup_spans": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            h AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
                    list_transform(range(0, greatest(len(toks) - 8 + 1, 0)),
                      i -> struct_pack(pos := i,
                        gh := ('0x' || substr(md5(array_to_string(
                               toks[i+1:i+8], ' ')), 1, 12))::BIGINT))
                      AS grams
                  FROM t),
            g AS (SELECT doc_id, unnest(grams) AS u FROM h),
            p AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM g),
            dup AS (SELECT gh FROM p GROUP BY gh
                    HAVING min(doc_id) <> max(doc_id)),
            d AS (SELECT doc_id, pos,
                         lead(pos) OVER (PARTITION BY doc_id
                                         ORDER BY pos) AS nxt
                  FROM p JOIN dup USING (gh)),
            c AS (SELECT doc_id,
                         cast(sum(CASE WHEN nxt IS NULL THEN 8
                                       ELSE least(8, nxt - pos) END)
                              as bigint) AS dup_tokens
                  FROM d GROUP BY doc_id)
            SELECT h.doc_id, h.n_tokens,
                   cast(coalesce(c.dup_tokens, 0) as bigint) AS dup_tokens,
                   cast(CASE WHEN h.n_tokens > 0
                             THEN (10000 * coalesce(c.dup_tokens, 0))
                                  // h.n_tokens
                             ELSE 0 END as bigint) AS dup_bp
            FROM h LEFT JOIN c ON h.doc_id = c.doc_id
        """,
        "dd_chunk_dedup": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            c AS (SELECT doc_id,
                         list_transform(range(0, ((len(toks)-1)//10)+1),
                           i -> array_to_string(toks[i*10+1 : i*10+10], ' '))
                           AS chunks
                  FROM t),
            e AS (SELECT doc_id,
                         unnest(list_transform(range(0, len(chunks)),
                           i -> struct_pack(idx := i, chunk := chunks[i+1])))
                           AS u
                  FROM c),
            kk AS (SELECT doc_id, u.idx AS chunk_idx,
                          substr(md5(u.chunk), 1, 16) AS chash
                   FROM e),
            kept AS (SELECT doc_id, chunk_idx FROM (
                       SELECT doc_id, chunk_idx,
                              row_number() OVER (PARTITION BY chash
                                ORDER BY doc_id, chunk_idx) AS rn
                       FROM kk) WHERE rn = 1),
            kl AS (SELECT doc_id, list_sort(list(chunk_idx)) AS kept_idx
                   FROM kept GROUP BY doc_id)
            SELECT c.doc_id,
                   -- DuckDB's array_to_string([]) is NULL, Spark's
                   -- array_join([]) is '' — coalesce to the sentinel
                   coalesce(array_to_string(list_transform(
                     list_filter(range(0, len(chunks)),
                       i -> list_contains(coalesce(kept_idx, []), i)),
                     i -> chunks[i+1]), ' '), '') AS dedup_text,
                   len(chunks)::BIGINT AS n_chunks,
                   coalesce(len(kept_idx), 0)::BIGINT AS n_kept
            FROM c LEFT JOIN kl ON c.doc_id = kl.doc_id
        """,
        # boilerplate scrub: same chunking as dd_chunk_dedup, but the
        # election is count(DISTINCT doc_id) > 2 (ubiquity) and kept =
        # every chunk instance whose hash is NOT ubiquitous
        "dd_boilerplate": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            c AS (SELECT doc_id,
                         list_transform(range(0, ((len(toks)-1)//10)+1),
                           i -> array_to_string(toks[i*10+1 : i*10+10], ' '))
                           AS chunks
                  FROM t),
            e AS (SELECT doc_id,
                         unnest(list_transform(range(0, len(chunks)),
                           i -> struct_pack(idx := i, chunk := chunks[i+1])))
                           AS u
                  FROM c),
            kk AS (SELECT doc_id, u.idx AS chunk_idx,
                          substr(md5(u.chunk), 1, 16) AS chash
                   FROM e),
            ubiq AS (SELECT chash FROM kk
                     GROUP BY chash HAVING count(DISTINCT doc_id) > 2),
            kept AS (SELECT doc_id, chunk_idx FROM kk
                     WHERE chash NOT IN (SELECT chash FROM ubiq)),
            kl AS (SELECT doc_id, list_sort(list(chunk_idx)) AS kept_idx
                   FROM kept GROUP BY doc_id)
            SELECT c.doc_id,
                   -- DuckDB's array_to_string([]) is NULL, Spark's
                   -- array_join([]) is '' — coalesce to the sentinel
                   coalesce(array_to_string(list_transform(
                     list_filter(range(0, len(chunks)),
                       i -> list_contains(coalesce(kept_idx, []), i)),
                     i -> chunks[i+1]), ' '), '') AS scrub_text,
                   len(chunks)::BIGINT AS n_chunks,
                   coalesce(len(kept_idx), 0)::BIGINT AS n_kept
            FROM c LEFT JOIN kl ON c.doc_id = kl.doc_id
        """,
        # cross-source shared-chunk matrix: same chunking, per-source
        # distinct chunk hashes, strict source_a < source_b self-join
        # dd_templates: chunk CTEs + df election + example-doc text
        "dd_templates": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            c AS (SELECT doc_id,
                         list_transform(range(0, ((len(toks)-1)//10)+1),
                           i -> array_to_string(toks[i*10+1 : i*10+10],
                                                ' ')) AS chunks
                  FROM t),
            e AS (SELECT doc_id, unnest(chunks) AS chunk FROM c),
            kk AS (SELECT doc_id, chunk,
                          substr(md5(chunk), 1, 16) AS chash
                   FROM e),
            st AS (SELECT chash,
                          cast(count(DISTINCT doc_id) as bigint) AS df,
                          cast(count(*) as bigint) AS n_occurrences,
                          cast(min(doc_id) as bigint)
                            AS example_doc_id
                   FROM kk GROUP BY 1
                   HAVING count(DISTINCT doc_id) >= 3
                   ORDER BY df DESC, chash LIMIT 20),
            ex AS (SELECT kk.chash, min(kk.chunk) AS chunk_text
                   FROM kk JOIN st
                     ON kk.doc_id = st.example_doc_id
                    AND kk.chash = st.chash
                   GROUP BY 1)
            SELECT st.chash, st.df, st.n_occurrences,
                   st.example_doc_id, ex.chunk_text
            FROM st JOIN ex USING (chash)
            ORDER BY st.df DESC, st.chash
        """,
        "dd_cross_source": f"""
            WITH t AS (SELECT doc_id, source, {_TOKS} AS toks
                       FROM documents),
            c AS (SELECT source,
                         substr(md5(array_to_string(
                           toks[i*10+1 : i*10+10], ' ')), 1, 16) AS chash
                  FROM t, unnest(range(0, ((len(toks)-1)//10)+1))
                       AS u(i)),
            d AS (SELECT DISTINCT source, chash FROM c)
            SELECT a.source AS source_a, b.source AS source_b,
                   cast(count(*) as bigint) AS shared_chunks
            FROM d a JOIN d b
              ON a.chash = b.chash AND a.source < b.source
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # cur_source_drift: exact integer TVD per source — in-vocab
        # |cnt_g*N - cnt*N_g| products plus the analytic out-of-vocab
        # term N_g*(N - C_g); HUGEINT intermediates are fine, the
        # OUTPUT casts to bigint per the dtype rule
        "cur_source_drift": f"""
            WITH ex AS (SELECT source AS grp, unnest({_THASHES}) AS thash
                        FROM documents),
            {_unigram_sql("ex")},
            g AS (SELECT grp, thash, cast(count(*) as bigint) AS cnt_g
                  FROM ex GROUP BY 1, 2),
            t AS (SELECT grp, cast(sum(cnt_g) as bigint) AS n_g,
                         cast(count(*) as bigint) AS vocab_g
                  FROM g GROUP BY 1)
            SELECT g.grp,
                   any_value(t.n_g) AS n_tokens,
                   any_value(t.vocab_g) AS vocab_g,
                   cast((10000 * (sum(abs(g.cnt_g * s.n_total
                                          - c.cnt * t.n_g))
                                  + any_value(t.n_g)
                                    * (any_value(s.n_total)
                                       - sum(c.cnt))))
                        // (2 * any_value(t.n_g)
                              * any_value(s.n_total)) as bigint)
                     AS tvd_bp
            FROM g JOIN c USING (thash) JOIN t USING (grp) CROSS JOIN s
            GROUP BY 1 ORDER BY 1
        """,
        "dd_jaccard_bucket": f"""
            WITH sh AS (SELECT doc_id, {_grams_sql(DEFAULT_SHINGLE)} AS sh FROM documents),
            pairs AS (SELECT doc_a, doc_b FROM ({lsh_pairs_sql}))
            SELECT doc_a, doc_b,
                   len(list_intersect(sa.sh, sb.sh)) AS n_intersect,
                   len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS n_union,
                   round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
                         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
            FROM pairs JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b
        """,
        "fp_rolling": f"""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(0::BIGINT,
                       list_transform({_TOKS}, t -> ('0x' || substr(md5(t), 1, 12))::BIGINT)),
                     (a, x) -> (a * 31 + x) % {ROLL_MOD}) AS rhash
            FROM documents
        """,
        "fp_winnow": f"""
            WITH {_winnow_sql("documents")}
            SELECT doc_id, unnest(fps) AS fp FROM m
        """,
        # dd_containment: replay the fp_winnow derivation over the
        # augmented table (docs + 5 truncated halves), the rare-fp cap,
        # asymmetric shared/|fp(src)| in basis points
        "dd_containment": f"""
            WITH aug AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id,
                     array_to_string(
                       ({_TOKS})[1:(len({_TOKS}) // 2)], ' ') AS text
              FROM documents WHERE doc_id < 5),
            {_winnow_sql("aug")},
            f AS (SELECT doc_id, unnest(fps) AS fp FROM m),
            rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= {CONTAINMENT_MAX_FP_DF}),
            p AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp)),
            sizes AS (SELECT doc_id AS src_id,
                             cast(len(fps) as bigint) AS n_src FROM m),
            shared AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id,
                              cast(count(*) as bigint) AS n_shared
                       FROM p a JOIN p b
                         ON a.fp = b.fp AND a.doc_id <> b.doc_id
                       GROUP BY 1, 2)
            SELECT src_id, dst_id, n_shared, n_src,
                   cast((10000 * n_shared) // n_src as bigint)
                     AS containment_bp
            FROM shared JOIN sizes USING (src_id)
            WHERE (10000 * n_shared) // n_src >= 6000
            ORDER BY src_id, dst_id
        """,
        "sim_near_dup": _near_dup_sql(),
        "ml_kmeans_cells": _kmeans_oracle(),
        "sim_dup_clusters": _components_sql(
            _near_dup_sql(), "vec_a", "vec_b", "vec_id", "cluster_id"
        ),
        "sim_ann_topk": _ann_topk_sql(_SIM_QUERY_IDS),
        "sim_ivf_topk": _ivf_topk_sql(_SIM_QUERY_IDS),
        "sim_ivf_trained": _ivf_trained_sql(_SIM_QUERY_IDS),
        "sim_semdedup": _semdedup_oracle(),
        "cur_exact_keep": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens, length({_NORM}) AS n_chars,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS stop_hits,
                     substr(md5({_NORM}), 1, 16) AS fp
              FROM documents),
            kept AS (
              SELECT doc_id, fp FROM t
              WHERE (n_tokens >= 5 AND n_tokens <= 100000)
                AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
                AND (50 * stop_hits >= n_tokens)
                AND ({LANG_TOKENS_PER_HIT} * stop_hits >= n_tokens)),
            canon AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp)
            SELECT doc_id FROM kept WHERE doc_id IN (SELECT doc_id FROM canon)
        """,
        "cur_full_keep": f"""
            WITH t AS (
              SELECT doc_id, text, len({_TOKS}) AS n_tokens, length({_NORM}) AS n_chars,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS stop_hits,
                     substr(md5({_NORM}), 1, 16) AS fp
              FROM documents),
            kept0 AS (
              SELECT doc_id, text, fp FROM t
              WHERE (n_tokens >= 5 AND n_tokens <= 100000)
                AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
                AND (50 * stop_hits >= n_tokens)
                AND ({LANG_TOKENS_PER_HIT} * stop_hits >= n_tokens)),
            g AS (
              SELECT doc_id,
                     unnest({_REP_GRAMS}) AS g
              FROM documents WHERE doc_id IN (SELECT doc_id FROM kept0)),
            pg AS (SELECT doc_id, substr(md5(g), 1, 16) AS gk, count(*) AS c
                   FROM g GROUP BY 1, 2),
            rep AS (SELECT doc_id, round(1.0 - count(*) / sum(c), 4) AS rep_ratio
                    FROM pg GROUP BY doc_id),
            kept1 AS (
              SELECT k.doc_id, k.text, k.fp FROM kept0 k
              JOIN rep r ON r.doc_id = k.doc_id
              WHERE r.rep_ratio <= 0.08),
            canon AS (SELECT min(doc_id) AS doc_id FROM kept1 GROUP BY fp)
            SELECT doc_id, {PII_STEPS_SQL("text")} AS text
            FROM kept1 WHERE doc_id IN (SELECT doc_id FROM canon)
        """,
        "cur_incremental": f"""
            WITH t AS (
              SELECT doc_id, len({_TOKS}) AS n_tokens, length({_NORM}) AS n_chars,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS stop_hits,
                     substr(md5({_NORM}), 1, 16) AS fp
              FROM documents),
            q AS (
              SELECT doc_id, fp FROM t
              WHERE (n_tokens >= 5 AND n_tokens <= 100000)
                AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
                AND (50 * stop_hits >= n_tokens)
                AND ({LANG_TOKENS_PER_HIT} * stop_hits >= n_tokens)),
            kept_even AS (
              SELECT doc_id, fp FROM q WHERE doc_id % 2 = 0
                AND doc_id IN (SELECT min(doc_id) FROM q
                               WHERE doc_id % 2 = 0 GROUP BY fp)),
            kept_odd AS (
              SELECT doc_id, fp FROM q WHERE doc_id % 2 = 1
                AND doc_id IN (SELECT min(doc_id) FROM q
                               WHERE doc_id % 2 = 1 GROUP BY fp))
            SELECT doc_id FROM kept_odd o
            WHERE NOT EXISTS (SELECT 1 FROM kept_even e WHERE e.fp = o.fp)
        """,
        "ct_contamination": f"""
            WITH g AS (
              SELECT doc_id, substr(md5(gram), 1, 16) AS gk
              FROM (SELECT doc_id, unnest({_grams_sql(DEFAULT_NGRAM)}) AS gram
                    FROM documents)),
            bench AS (SELECT DISTINCT gk FROM g WHERE doc_id % 97 = 0)
            SELECT g.doc_id,
                   cast(count(*) as bigint) AS n_grams,
                   cast(sum(case when b.gk is not null then 1 else 0 end)
                        as bigint) AS n_hit,
                   100 * cast(sum(case when b.gk is not null then 1 else 0
                              end) as bigint) >= 10 * cast(count(*) as bigint)
                     AS is_contaminated
            FROM g LEFT JOIN bench b ON g.gk = b.gk
            GROUP BY g.doc_id
        """,
        "bpe_merges": _bpe_merges_oracle(),
        "bpe_encode": _bpe_encode_sql(),
        # cur_stream_parity: the BATCH curation definition — distinct
        # content fingerprints passing the quality gates, kept exactly
        # once each. The Spark side replays the STREAMING definition
        # over real micro-batches; matching this oracle is the
        # dual-definition equivalence (set + emission count; the winner
        # row per fingerprint is arrival-order-dependent by design).
        "cur_stream_parity": f"""
            WITH t AS (
              SELECT len({_TOKS}) AS n_tokens, length({_NORM}) AS n_chars,
                     len(list_filter({_TOKS}, x -> list_contains({_STOP_SQL}, x))) AS stop_hits,
                     substr(md5({_NORM}), 1, 16) AS fp
              FROM documents)
            SELECT fp AS fingerprint, cast(1 AS bigint) AS n_kept
            FROM t
            WHERE (n_tokens >= 5 AND n_tokens <= 100000)
              AND ((n_chars - (n_tokens - 1)) >= 2 * n_tokens AND (n_chars - (n_tokens - 1)) <= 12 * n_tokens)
              AND (50 * stop_hits >= n_tokens)
            GROUP BY fp
        """,
        "st_window_counts": f"""
            SELECT time_bucket(INTERVAL '{STREAM_WINDOW}', ts) AS window_start,
                   time_bucket(INTERVAL '{STREAM_WINDOW}', ts) + INTERVAL '{STREAM_WINDOW}' AS window_end,
                   event_type, count(*) AS n_docs
            FROM events GROUP BY 1, 2, 3
        """,
        # sp_mix_temperature: exact isqrt via floor(sqrt)+integer
        # correction (float sqrt floor error <= 1 below 2^53; the
        # comparisons that fix it are pure bigint on both engines)
        "sp_mix_temperature": f"""
            WITH d AS (SELECT source,
                              cast(len({_TOKS}) as bigint) AS n_toks
                       FROM documents),
            t AS (SELECT source, cast(sum(n_toks) as bigint) AS n_toks
                  FROM d GROUP BY 1),
            tw AS (SELECT source, n_toks,
                     cast((cast(floor(sqrt(n_toks)) as bigint)
                           - (CASE WHEN cast(floor(sqrt(n_toks)) as bigint)
                                      * cast(floor(sqrt(n_toks)) as bigint)
                                      > n_toks THEN 1 ELSE 0 END))
                          + (CASE WHEN
                               ((cast(floor(sqrt(n_toks)) as bigint)
                                 - (CASE WHEN
                                      cast(floor(sqrt(n_toks)) as bigint)
                                      * cast(floor(sqrt(n_toks)) as bigint)
                                      > n_toks THEN 1 ELSE 0 END)) + 1)
                               * ((cast(floor(sqrt(n_toks)) as bigint)
                                 - (CASE WHEN
                                      cast(floor(sqrt(n_toks)) as bigint)
                                      * cast(floor(sqrt(n_toks)) as bigint)
                                      > n_toks THEN 1 ELSE 0 END)) + 1)
                               <= n_toks THEN 1 ELSE 0 END)
                          as bigint) AS w
                   FROM t),
            s AS (SELECT cast(sum(w) as bigint) AS sw,
                         cast(sum(n_toks) as bigint) AS sn FROM tw)
            SELECT source, n_toks, w,
                   cast((10000 * w) // sw as bigint) AS share_bp,
                   cast((10000 * n_toks) // sn as bigint) AS natural_bp
            FROM tw CROSS JOIN s ORDER BY source
        """,
        "sp_mix_budget": f"""
            WITH d AS (SELECT doc_id, source, cast(len({_TOKS}) as bigint)
                              AS n_toks FROM documents),
            sh AS (SELECT * FROM (VALUES ('src0', 5000), ('src1', 3000),
                                         ('src2', 2000), ('src3', 10000))
                   AS t(source, share_bp)),
            r AS (SELECT d.source,
                         cast(least(10000, (2000 * share_bp) // sum(n_toks))
                              as bigint) AS rate_bp
                  FROM d JOIN sh USING (source)
                  GROUP BY d.source, share_bp)
            SELECT doc_id, source, n_toks, rate_bp
            FROM d JOIN r USING (source)
            WHERE ('0x' || substr(md5('mix0_' || doc_id::VARCHAR),
                                  1, 12))::BIGINT % 10000 < rate_bp
        """,
        "p_unpivot": """
            WITH s AS (SELECT * FROM lineitem
                       WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                         AND l_shipdate <  TIMESTAMP '1995-02-01')
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                   cast(cast(l_quantity as decimal(18,2)) as double) AS val
            FROM s
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                   cast(cast(l_extendedprice as decimal(18,2)) as double)
            FROM s
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount',
                   cast(cast(l_discount as decimal(18,2)) as double)
            FROM s
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax',
                   cast(cast(l_tax as decimal(18,2)) as double)
            FROM s
        """,
        "sp_zorder": f"""
            WITH base AS (
              SELECT event_id,
                     date_diff('day', DATE '2024-01-01', cast(ts as date))
                       AS day_i,
                     user_id
              FROM events),
            b AS (SELECT min(day_i) lo0, max(day_i) hi0,
                         min(user_id) lo1, max(user_id) hi1 FROM base),
            q AS (SELECT event_id,
                   cast({quantize_case_sql("day_i", "lo0", "hi0", div="//")}
                        as bigint) AS _q0,
                   cast({quantize_case_sql("user_id", "lo1", "hi1", div="//")}
                        as bigint) AS _q1
                  FROM base, b)
            SELECT event_id, ({zvalue_sql(["_q0", "_q1"])}) AS zval
            FROM q
        """,
        # sp_curriculum: lm_head_split's CTEs for the phase, then the
        # epoch_shuffle md5-key recipe within (phase, shard)
        "sp_curriculum": f"""
            WITH {_SURPRISAL_SQL},
            k AS (SELECT doc_id, split AS phase,
                         md5(doc_id::VARCHAR || ':curriculum{CURRICULUM_EPOCH}') AS _k
                  FROM ph),
            sh AS (SELECT doc_id, phase, _k,
                          ('0x' || substr(_k, 1, 12))::BIGINT % {CURRICULUM_SHARDS}
                            AS shard
                   FROM k)
            SELECT doc_id, phase, cast(shard as bigint) AS shard,
                   cast(row_number() OVER (
                     PARTITION BY phase, shard ORDER BY _k, doc_id)
                     as bigint) AS pos
            FROM sh ORDER BY doc_id
        """,
        "sp_epoch_shuffle": """
            SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR || ':epoch1'),
                                   1, 12))::BIGINT % 4 AS shard,
                   cast(row_number() OVER (
                     PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR
                                   || ':epoch1'), 1, 12))::BIGINT % 4
                     ORDER BY md5(doc_id::VARCHAR || ':epoch1'), doc_id)
                     as bigint) AS pos
            FROM documents
        """,
        "sp_stratified": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     ('0x' || substr(md5('strat0_' || doc_id::VARCHAR), 1, 12))::BIGINT % 10000 AS b
              FROM documents)
            WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
                                WHEN 'fr' THEN 2500 ELSE 1000 END
        """,
        "sp_reservoir": f"""
            SELECT doc_id, lang, rk FROM (
              SELECT doc_id, lang,
                     cast(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(md5('{RESERVOIR_SEED}_' ||
                                 doc_id::VARCHAR), 1, 12))::BIGINT,
                                doc_id)
                       as bigint) AS rk
              FROM documents)
            WHERE rk <= 25
        """,
        "cur_domain_cap": """
            SELECT doc_id, source, n_chars, rk FROM (
              SELECT doc_id, source, n_chars,
                     cast(row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) as bigint) AS rk
              FROM documents)
            WHERE rk <= 30
        """,
        "sp_pack": f"""
            WITH t AS (SELECT doc_id, lang AS shard,
                              len({_TOKS})::BIGINT AS n_tokens
                       FROM documents),
            o AS (SELECT shard, doc_id, n_tokens,
                         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                           - n_tokens AS so
                  FROM t)
            SELECT shard, doc_id, n_tokens,
                   (so // 512)::BIGINT AS bin_idx,
                   (so % 512)::BIGINT AS bin_offset
            FROM o
        """,
        "sp_pack_bpe": f"""
            WITH enc AS ({_bpe_toks_sql()}),
            t AS (SELECT d.doc_id, d.lang AS shard,
                         len(e.toks)::BIGINT AS n_tokens
                  FROM documents d JOIN enc e USING (doc_id)),
            o AS (SELECT shard, doc_id, n_tokens,
                         sum(n_tokens) OVER (PARTITION BY shard
                                             ORDER BY doc_id)
                           - n_tokens AS so
                  FROM t)
            SELECT shard, doc_id, n_tokens,
                   (so // 512)::BIGINT AS bin_idx,
                   (so % 512)::BIGINT AS bin_offset
            FROM o
        """,
        "sp_hash_split": f"""
            SELECT doc_id,
                   CASE WHEN b < 8000 THEN 'train'
                        WHEN b < 9000 THEN 'valid'
                        WHEN b < 10000 THEN 'test'
                        ELSE 'rest' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5('{SPLIT_SEED}_' || doc_id::VARCHAR), 1, 12))::BIGINT % 10000 AS b
                  FROM documents)
        """,
        # t_funnel: per-step chained LEFT joins with min(CASE ...) so a
        # key with only out-of-order/window events keeps its row
        "t_funnel": f"""
            WITH base AS (SELECT user_id AS k, event_type AS et,
                                 floor(epoch(ts))::BIGINT AS e FROM events),
            s1 AS (SELECT k, min(e) AS t1 FROM base
                   WHERE et = '{FUNNEL_STEPS[0]}' GROUP BY k),
            s2 AS (SELECT s1.k, any_value(s1.t1) AS t1,
                          min(CASE WHEN b.e > s1.t1
                                    AND b.e <= s1.t1 + {FUNNEL_WINDOW_S}
                                   THEN b.e END) AS t2
                   FROM s1 LEFT JOIN base b
                     ON b.k = s1.k AND b.et = '{FUNNEL_STEPS[1]}'
                   GROUP BY s1.k),
            s3 AS (SELECT s2.k, any_value(s2.t1) AS t1,
                          any_value(s2.t2) AS t2,
                          min(CASE WHEN b.e > s2.t2
                                    AND b.e <= s2.t1 + {FUNNEL_WINDOW_S}
                                   THEN b.e END) AS t3
                   FROM s2 LEFT JOIN base b
                     ON b.k = s2.k AND b.et = '{FUNNEL_STEPS[2]}'
                   GROUP BY s2.k)
            SELECT k AS user_id,
                   cast(1 + (t2 IS NOT NULL)::INT
                          + (t3 IS NOT NULL)::INT as bigint)
                     AS funnel_level,
                   cast(t1 as bigint) AS t1,
                   cast(t2 as bigint) AS t2,
                   cast(t3 as bigint) AS t3
            FROM s3 ORDER BY user_id
        """,
        # t_retention: integer epoch-week cohorts (no calendar dialect),
        # floored (DuckDB's // truncates): e minus its positive remainder
        "t_retention": """
            WITH b AS (SELECT k, (e - (e % 604800 + 604800) % 604800) // 604800 AS w
                       FROM (SELECT user_id AS k, floor(epoch(ts))::BIGINT AS e
                             FROM events)),
            c AS (SELECT k, min(w) AS cw FROM b GROUP BY k),
            a AS (SELECT DISTINCT k, w FROM b)
            SELECT cast(c.cw as bigint) AS cohort_week,
                   cast(a.w - c.cw as bigint) AS week_offset,
                   cast(count(DISTINCT a.k) as bigint) AS n_active
            FROM a JOIN c USING (k)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "t_asof_last_click": """
            SELECT e.event_id, e.user_id, e.ts, coalesce(c.value, -1.0) AS asof_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id AND e.ts >= c.ts
        """,
        "t_interval_clicks": """
            SELECT e.event_id, e.user_id, e.ts, count(c.ts) AS n_in_window
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
            LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id AND c.ts > e.ts
             AND c.ts <= e.ts + INTERVAL '1 hour'
            GROUP BY e.event_id, e.user_id, e.ts
        """,
        # t_session_value: the t_sessions CTE plus the decimal money
        # fold per session
        # t_ewma: list_reduce over list(value ORDER BY ts, event_id)
        # replays the exact fold (first element is the init, matching
        # the Spark aggregate(vs[2:], vs[1], ...) form)
        "t_ewma": f"""
            WITH a AS (
              SELECT user_id,
                     cast(count(*) as bigint) AS n_events,
                     cast(floor(epoch(max(ts))) as bigint) AS last_ts,
                     list(value ORDER BY ts, event_id) AS vs
              FROM events GROUP BY user_id)
            SELECT user_id, n_events, last_ts,
                   round(list_reduce(vs,
                     (acc, x) -> acc + {EWMA_ALPHA_BP / 10000} * (x - acc)), 4) + 0.0
                     AS ewma
            FROM a ORDER BY user_id
        """,
        "t_session_value": f"""
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL '{SESSION_GAP}'
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '{SESSION_GAP}' AS session_end,
                   cast(count(*) as bigint) AS n_events,
                   cast(round(sum(cast(value as decimal(18,2))), 2)
                        as double) AS session_value
            FROM s GROUP BY user_id, sid
            ORDER BY user_id, session_start
        """,
        "t_sessions": f"""
            WITH o AS (
              SELECT user_id, ts,
                     -- >= not >: Spark session windows [t, t+gap) do NOT
                     -- merge when the next event lands exactly at t+gap
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL '{SESSION_GAP}'
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id, ts,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '{SESSION_GAP}' AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "meta_profile": """
            SELECT 'doc_id' AS col_name, cast(count(*) as bigint) AS n_rows,
                   cast(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) as bigint) AS n_nulls,
                   cast(count(DISTINCT doc_id) as bigint) AS n_distinct,
                   coalesce(min(doc_id)::VARCHAR, '') AS min_value,
                   coalesce(max(doc_id)::VARCHAR, '') AS max_value
            FROM documents
            UNION ALL
            SELECT 'text', cast(count(*) as bigint),
                   cast(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) as bigint),
                   cast(count(DISTINCT text) as bigint),
                   coalesce(min(text), ''), coalesce(max(text), '')
            FROM documents
            UNION ALL
            SELECT 'lang', cast(count(*) as bigint),
                   cast(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) as bigint),
                   cast(count(DISTINCT lang) as bigint),
                   coalesce(min(lang), ''), coalesce(max(lang), '')
            FROM documents
            UNION ALL
            SELECT 'source', cast(count(*) as bigint),
                   cast(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) as bigint),
                   cast(count(DISTINCT source) as bigint),
                   coalesce(min(source), ''), coalesce(max(source), '')
            FROM documents
            UNION ALL
            SELECT 'n_chars', cast(count(*) as bigint),
                   cast(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) as bigint),
                   cast(count(DISTINCT n_chars) as bigint),
                   coalesce(min(n_chars)::VARCHAR, ''),
                   coalesce(max(n_chars)::VARCHAR, '')
            FROM documents
        """,
        "meta_report": f"""
            WITH t AS (
              SELECT lang, source, len({_TOKS})::BIGINT AS n_toks,
                     ((len({_TOKS}) >= 5 AND len({_TOKS}) <= 100000)
                      AND ((length({_NORM}) - (len({_TOKS}) - 1))
                             >= 2 * len({_TOKS})
                           AND (length({_NORM}) - (len({_TOKS}) - 1))
                             <= 12 * len({_TOKS}))
                      AND (50 * len(list_filter({_TOKS},
                             x -> list_contains({_STOP_SQL}, x)))
                           >= len({_TOKS}))) AS is_quality,
                     substr(md5({_NORM}), 1, 16) AS fp
              FROM documents),
            one AS (
              SELECT cast(count(*) as bigint) AS n_docs,
                     cast(sum(n_toks) as bigint) AS n_tokens,
                     cast(sum(CASE WHEN is_quality THEN 1 ELSE 0 END)
                          as bigint) AS n_quality,
                     cast(count(*) - count(DISTINCT fp) as bigint)
                       AS n_exact_dup_docs,
                     cast(count(DISTINCT lang) as bigint) AS n_langs,
                     cast(count(DISTINCT source) as bigint) AS n_sources
              FROM t)
            SELECT 'n_docs' AS metric, n_docs AS value FROM one
            UNION ALL SELECT 'n_tokens', n_tokens FROM one
            UNION ALL SELECT 'n_quality', n_quality FROM one
            UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM one
            UNION ALL SELECT 'n_langs', n_langs FROM one
            UNION ALL SELECT 'n_sources', n_sources FROM one
        """,
        "a_rollup_stats": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   cast(2 * grouping(lang) + grouping(source) as bigint)
                     AS gid,
                   cast(count(*) as bigint) AS n_docs,
                   cast(sum(n_chars) as bigint) AS sum_chars
            FROM documents
            GROUP BY ROLLUP (lang, source)
        """,
        "a_grouping_sets": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   cast(2 * grouping(lang) + grouping(source) as bigint)
                     AS gid,
                   cast(count(*) as bigint) AS n_docs,
                   cast(sum(n_chars) as bigint) AS sum_chars
            FROM documents
            GROUP BY CUBE (lang, source)
        """,
        "a6_metrics_rollup": """
            SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
                   cast(round(sum(cast(value as decimal(18,2))), 2) as double) AS sum_value,
                   min(value) AS min_value, max(value) AS max_value
            FROM events GROUP BY ROLLUP(event_type)
        """,
        "a_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(quantile_cont(value, 0.99), 4) AS p99
            FROM events GROUP BY event_type
        """,
        "w_moving_avg": """
            SELECT event_id, user_id,
                   cast(sum(cast(value as decimal(18,2))) OVER w as double) AS moving_sum,
                   round(cast(sum(cast(value as decimal(18,2))) OVER w as double)
                         / count(*) OVER w, 4) AS moving_avg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        "p_json_extract": """
            SELECT event_id, json_extract_string(props, '$.k')::INT AS k
            FROM events WHERE json_extract_string(props, '$.k')::INT >= 50
        """,
        "set_view_not_error": """
            SELECT DISTINCT user_id, cast(ts as date) AS day
            FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT DISTINCT user_id, cast(ts as date)
            FROM events WHERE event_type = 'error'
        """,
        "set_common_users": """
            SELECT user_id FROM events WHERE event_type = 'view'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'click'
        """,
        "a_pivot_daily": """
            SELECT cast(ts as date) AS day,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'error') AS n_error,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'view') AS n_view
            FROM events GROUP BY day
        """,
        "w_rank_funcs": """
            SELECT event_id, event_type,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile
            FROM events
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY value DESC, event_id)
        """,
        "j_full_outer": """
            WITH p AS (SELECT user_id, cast(ts as date) AS day,
                              count(*) AS n_purchases
                       FROM events WHERE event_type = 'purchase'
                       GROUP BY 1, 2),
                 e AS (SELECT user_id, cast(ts as date) AS day,
                              count(*) AS n_errors
                       FROM events WHERE event_type = 'error'
                       GROUP BY 1, 2)
            SELECT user_id, day,
                   coalesce(n_purchases, 0) AS n_purchases,
                   coalesce(n_errors, 0) AS n_errors
            FROM p FULL OUTER JOIN e USING (user_id, day)
        """,
        # microsecond granularity: the only unit where DuckDB date_diff
        # (boundary crossings) == Spark timestamp_diff (truncated micros).
        "w_lead_lag": """
            SELECT event_id, user_id,
                   cast(coalesce(date_diff('microsecond', lag(ts) OVER w, ts),
                                 -1) as bigint) AS gap_us,
                   coalesce(lead(event_id) OVER w, -1) AS next_event_id,
                   first_value(event_id) OVER w AS anchor_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "sim_topk_bruteforce": f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e
                  WHERE vec_id IN ({", ".join(map(str, _SIM_QUERY_IDS))})),
            s AS (SELECT query_id, e.vec_id AS neighbor_id, {cos} AS cos_sim
                  FROM e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, rank, neighbor_id, cos_sim FROM (
              SELECT query_id, neighbor_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, neighbor_id) AS rank
              FROM s) WHERE rank <= {TOP_K}
        """,
        # multimodal: expectations computed by the same Python kernels the
        # Spark UDFs call, inlined as VALUES (binary payloads — not
        # expressible over the pre-registered views)
        # sim_hash_embed: same 48-bit hash, bit-split sign/index,
        # integer components, sqrt/divide/round/printf pack recipe
        "sim_hash_embed": _hash_embed_sql() + " ORDER BY doc_id",
        "sim_rp_reduce": _rp_oracle(),
        "x_links": _x_links_oracle(),
        "g_pagerank_web": _g_pagerank_web_oracle(),
        "g_components": _g_components_oracle(),
        "g_degree_dist": _g_degree_dist_oracle(),
        "mm_dedup": _mm_dedup_oracle(),
        "mm_decode_meta": _mm_decode_meta_oracle(),
        "mm_features": _mm_features_oracle(),
        "mm_frames": _mm_frames_oracle(),
        # extraction flagship: expectations from the Spark-free kernel
        # pass over the same deterministic corpus (kernel-is-spec)
        "x_extract_fused": _x_fused_oracle(),
        "x_extract_blocks": _x_blocks_oracle(),
        "x_extract_regroup": _x_regroup_oracle(),
        "x_tsv_lines": _x_tsv_oracle(),
        "x_diff_runs": _x_diff_oracle(),
        "x_refine_sentences": _x_refine_oracle(),
        "x_debug_overlay": _x_overlay_oracle(),
        # url canonicalization: deterministic input urls inlined; DuckDB
        # recomputes the chain independently via CANON_STEPS_SQL
        "p_hot_domains": f"""
            WITH u AS (
              SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain
              FROM (VALUES {", ".join(
                f"('{_sql_quote(u)}')"
                for u, _, _ in _extract_expected()
              )}) t(url)),
            s AS (SELECT domain, cast(count(*) as bigint) AS w
                  FROM u GROUP BY domain)
            SELECT domain, w,
                   w > {HOT_SHARE} * (SELECT sum(w) FROM s) AS is_hot
            FROM s
        """,
        "url_canonical": f"""
            SELECT url, {CANON_STEPS_SQL("url")} AS canonical_url
            FROM (VALUES {", ".join(f"('{_sql_quote(u)}')" for u in _url_corpus())}) t(url)
        """,
        # url_rules: same suffix expansion + rule join, urls and rules
        # inlined from the shared Python constants (EDGE_URLS recipe);
        # HOST_RE/PATH_RE are the kernel-is-spec pattern strings
        # dd_url_dedup: the CANON chain + min-election per canonical
        "dd_url_dedup": f"""
            WITH u AS (SELECT url FROM (VALUES {", ".join(
                f"('{_sql_quote(x)}')" for x in _url_corpus()
            )}) t(url)),
            c AS (SELECT url, {CANON_STEPS_SQL("url")} AS canonical_url
                  FROM u)
            SELECT canonical_url,
                   cast(count(*) as bigint) AS n_urls,
                   min(url) AS kept_url
            FROM c GROUP BY 1 ORDER BY 1
        """,
        "url_rules": f"""
            WITH u AS (SELECT url FROM (VALUES {", ".join(
                f"('{_sql_quote(u)}')" for u in _rule_url_corpus()
            )}) t(url)),
            p AS (SELECT url,
                    lower(regexp_extract(url, '{HOST_RE}', 1)) AS host,
                    regexp_extract(url, '{PATH_RE}', 1) AS path
                  FROM u),
            l AS (SELECT url, path, string_split(host, '.') AS labels
                  FROM p),
            e AS (SELECT url, path,
                    unnest(list_transform(range(0, len(labels)),
                      i -> array_to_string(labels[i+1:len(labels)], '.')))
                      AS suf
                  FROM l),
            r AS (SELECT * FROM (VALUES {", ".join(
                "('" + _sql_quote(d) + "', "
                + ("NULL" if pp is None else "'" + _sql_quote(pp) + "'")
                + ", '" + _sql_quote(c) + "')"
                for d, pp, c in BLOCK_RULES
            )}) t(domain, path_prefix, category))
            SELECT e.url, min(r.category) AS category
            FROM e JOIN r ON e.suf = r.domain
            WHERE r.path_prefix IS NULL
               OR starts_with(e.path, r.path_prefix)
            GROUP BY e.url ORDER BY url
        """,
    })
