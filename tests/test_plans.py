"""Physical-plan regression tests: the plan properties the engine is
designed around (SURVEY.md §4) must survive refactors.

- fused extraction is a single narrow stage (no Exchange);
- predicate pushdown + column pruning reach the parquet scan;
- small dims broadcast (no sort-merge join in the star join);
- LSH candidate generation is equi-join only (never a cross product).
"""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod

from ocr_pipeline_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from ocr_pipeline_spark.operators.extraction import extract_pages

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_blocks(df) -> list[str]:
    """Per-node detail blocks of every shuffle Exchange in the formatted
    explain — unlike toString()'s Exchange lines (keys only), these list
    the full Input attribute set the exchange carries."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return [
        b
        for b in buf.getvalue().split("\n\n")
        if b.lstrip().startswith("(") and ") Exchange" in b.splitlines()[0]
    ]


def test_fused_extraction_has_no_shuffle(spark, pages_df):
    plan = _plan(extract_pages(pages_df))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_filter_and_projection_reach_scan(spark):
    df = entrymod.queries()["p_filter_project"](spark, SF_DIR)
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "l_quantity" in scan and ">= 10" in scan  # predicate pushed down
    # pruned to exactly the referenced columns
    assert "l_extendedprice" not in scan and "l_shipdate" not in scan


def test_star_join_broadcasts_all_dims(spark):
    df = entrymod.queries()["q5_revenue_by_nation"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # fact table scan is pruned to the join/agg columns only
    li_scan = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "l_orderkey" in ln
    ][0]
    assert "l_comment" not in li_scan and "l_shipdate" not in li_scan


def test_lsh_pairs_is_equi_join(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(lsh_candidate_pairs(minhash_signatures(docs)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_narrow(spark):
    from ocr_pipeline_spark.operators.splits import stratified_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(
        stratified_sample(
            docs.select("doc_id", "lang"), "doc_id", "lang", {"en": 0.5}
        )
    )
    assert "Exchange" not in plan       # pure scan-local filter


def test_dup_spans_text_free_shuffles(spark):
    """dup_spans' scale contract: every exchange carries only
    (doc_id, pos, 48-bit gram hash) and bigint aggregates — neither
    the text column nor the token array crosses a shuffle."""
    from ocr_pipeline_spark.operators.dedup import dup_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = dup_spans(docs)
    blocks = _shuffle_blocks(df)
    assert blocks  # dup-hash agg + join + per-doc window do shuffle
    for b in blocks:
        assert "text#" not in b, b
        assert "_t#" not in b, b


def test_pii_scrub_is_narrow(spark):
    from ocr_pipeline_spark.operators.pii import with_scrubbed_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(with_scrubbed_text(docs.select("doc_id", "text")))
    assert "Exchange" not in plan


def test_repetition_gram_text_never_shuffles(spark):
    """The scale contract of repetition_stats: exchanges carry only
    doc_id + the 16-hex gram key, never the gram string column."""
    from ocr_pipeline_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(repetition_stats(docs))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges  # partial agg + rollup do shuffle (keys only)
    for ln in exchanges:
        assert " g#" not in ln and "(g#" not in ln


def test_tfidf_computes_token_explode_once(spark):
    """tf is lazily checkpointed so the df rollup and the score join
    share ONE tokenize+explode+shuffle — without it, column pruning
    gives the df branch a keys-only aggregate whose exchange never
    matches for reuse and the corpus is scanned twice."""
    from ocr_pipeline_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(tfidf_top_terms(docs))
    assert plan.count("Generate") == 0      # explode lives in the
    assert plan.count("FileScan") <= 1      # checkpointed subtree


@pytest.mark.parametrize("op", ["annotate_quality", "quality_flags", "shingle_sets"])
def test_text_prep_tokenizes_once(spark, op):
    """The staged token projection (textstats._staged_tokens) is the one
    place these operators tokenize: a second tokenize tree in the
    optimized plan means a copy bypassed the staging."""
    from ocr_pipeline_spark.operators import dedup, textstats

    fn = getattr(textstats, op, None) or getattr(dedup, op)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = fn(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1


def test_incremental_fingerprint_not_pushed_into_filter(spark):
    """The coalesce-wrapped fingerprint join key: no inferred isnotnull
    may re-inline the normalize+md5-over-text tree into a Filter."""
    # the REGISTERED query, exactly as the driver runs it — a manually
    # coalesced `known` here once masked an unwrapped entry helper
    inc = entrymod.queries()["cur_incremental"](spark, SF_DIR)
    opt = inc._jdf.queryExecution().optimizedPlan().toString()
    assert not [
        ln for ln in opt.splitlines() if "Filter" in ln and "md5" in ln
    ]


def test_incremental_semi_join_is_equi_and_text_free(spark):
    """curate_incremental's scale contract: the known-fingerprint check is
    an equi-(anti/semi-)join on the 16-hex fingerprint, and no exchange
    in the whole job carries the text payload of the known side — only
    the increment's own text survives to the output projection."""
    inc = entrymod.queries()["cur_incremental"](spark, SF_DIR)
    plan = _plan(inc)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    blocks = _shuffle_blocks(inc)
    assert blocks  # the dedup-representative aggregates do shuffle
    for b in blocks:
        assert "text#" not in b, b


def test_simhash_pairs_is_equi_join(spark):
    from ocr_pipeline_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(simhash_candidate_pairs(simhash_signatures(docs)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_broadcasts_queries(spark):
    df = entrymod.queries()["sim_topk_bruteforce"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_ann_topk_no_vectors_cross_shuffles(spark):
    """ann_topk's scale contract: embeddings feed the map-side cosine and
    the qvec BroadcastExchange, but no shuffle exchange ever carries a
    vector column — only (query_id, neighbor_id, cos_sim) shorts. At
    768-dim real widths a vector-carrying candidate dedup would dominate
    the job's shuffle volume."""
    from ocr_pipeline_spark.operators.similarity import ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = ann_topk(emb, query_ids=[0, 1, 2], k=3)
    blocks = _shuffle_blocks(df)
    assert blocks  # the dedup + window shuffles exist
    for b in blocks:
        assert "embedding" not in b and "qvec" not in b, b


def test_contamination_gram_keys_never_shuffle(spark):
    """contamination_flags' scale contract: the benchmark key set
    broadcasts; the only corpus-sized exchange is the per-doc partial
    agg carrying (doc_id, two ints) — no gram key or text column."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.decontam import contamination_flags

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = contamination_flags(docs, docs.filter(F.col("doc_id") % 97 == 0))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    corpus_shuffles = [
        b for b in _shuffle_blocks(df) if "doc_id" in b
    ]
    assert corpus_shuffles
    for b in corpus_shuffles:
        assert "gk" not in b and "text" not in b and "_gks" not in b, b
    assert "partial_" in plan  # map-side combine before that exchange


def test_asof_join_is_single_shuffle(spark):
    """The union-window as-of construction: exactly one exchange (on the
    key), never a nested-loop join."""
    df = entrymod.queries()["t_asof_last_click"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # no join operator at all — window only


def test_interval_join_uses_equi_keys(spark):
    """Range residual rides an equi-join on the keys — no nested loop."""
    df = entrymod.queries()["t_interval_clicks"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_extraction_job_shuffles_on_url_alone(spark, pages_df, tmp_path,
                                             monkeypatch):
    """run_extraction feeds the kernel through a hash(url) repartition:
    the finest key balances hot domains with no salt, no domain key and
    no hot-domain pre-pass (AQE cannot rebalance a mapInPandas stage)."""
    import re

    from ocr_pipeline_spark.plans import extract_job

    captured = []
    monkeypatch.setattr(
        extract_job, "write_extracted_with_manifest",
        lambda df, *args, **kwargs: captured.append(df),
    )
    extract_job.run_extraction(
        spark, pages_df, str(tmp_path / "out"), str(tmp_path / "man"),
        n_buckets=8, num_partitions=4,
    )
    lines = _plan(captured[0]).splitlines()
    exchanges = [ln for ln in lines if "Exchange" in ln]
    # parse_url prints as ParseUrlEvaluator in the physical plan
    assert exchanges
    assert not any(re.search(r"parse_?url", ln, re.I) for ln in exchanges)
    below = lines[next(i for i, ln in enumerate(lines) if "MapInPandas" in ln):]
    feed = next(ln for ln in below if "Exchange" in ln)
    assert re.search(r"Exchange hashpartitioning\(url#\d+, 4\)", feed), feed


def test_extraction_job_count(spark, pages_df, tmp_path, job_ids):
    """A first run launches no eager bucket pre-pass and no schema
    inference for the read-back: the write observes the buckets it wrote
    and only those directories are read back, with the written schema.
    The job before this design launched 11 Spark jobs here: 3 for the
    pre-pass, 2 for broadcasting an RDD-backed empty manifest into the
    resume anti-join, 1 to infer the read-back schema; this one runs 5."""
    from ocr_pipeline_spark.plans.extract_job import run_extraction

    jobs = job_ids(lambda: run_extraction(
        spark, pages_df, str(tmp_path / "out"), str(tmp_path / "man"),
        n_buckets=8,
    ))
    assert len(jobs) <= 11 - 4, jobs


def test_partial_resume_filters_committed_buckets_without_a_join(
    spark, pages_df, tmp_path, monkeypatch
):
    """A partial resume drops the committed buckets with a filter on the
    bucket ids read once from the manifest: the plan that reaches the
    write holds no join against the manifest (the old anti-join scanned
    it a second time)."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lineage import with_bucket
    from ocr_pipeline_spark.plans import extract_job

    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    half = with_bucket(pages_df, 8).filter(F.col("bucket") < 4).drop("bucket")
    extract_job.run_extraction(spark, half, out, man, n_buckets=8)

    captured = []
    monkeypatch.setattr(
        extract_job, "write_extracted_with_manifest",
        lambda df, *args, **kwargs: captured.append(df),
    )
    extract_job.run_extraction(spark, pages_df, out, man, n_buckets=8)
    plan = captured[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert "bucket#" in plan and " IN (0,1,2,3)" in plan, plan


def test_hot_domain_prepass_reads_urls_only(spark, tmp_path):
    """find_hot_domains' aggregate scans the url column, not the payload
    (length(html) would force whole-corpus IO at 100 TB)."""
    from ocr_pipeline_spark.operators.partitioning import domain_of
    from pyspark.sql import functions as F

    path = str(tmp_path / "pages")
    spark.createDataFrame(
        [(f"https://d{i%3}.example/{i}", b"x" * 100) for i in range(50)],
        "url string, html binary",
    ).write.parquet(path)
    pages = spark.read.parquet(path)
    stats = (
        pages.select(domain_of(F.col("url")).alias("domain"),
                     F.lit(1).cast("long").alias("w"))
        .groupBy("domain").agg(F.sum("w"))
    )
    scan = [ln for ln in _plan(stats).splitlines() if "FileScan" in ln][0]
    assert "url" in scan and "html" not in scan


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "a5_error_rate", "j3_regroup_order"]
)
def test_aggregations_have_partial_agg_single_shuffle(spark, name):
    """Map-side partial aggregation + exactly one exchange per agg."""
    df = entrymod.queries()[name](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # partial aggregate before the shuffle


def test_kmv_raw_values_never_shuffle(spark):
    """kmv_distinct's scale contract: exchanges carry only grp + 48-bit
    hash, never the raw value column."""
    from ocr_pipeline_spark.operators.sketch import kmv_distinct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(kmv_distinct(docs, "lang", "text", k=16))
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert " text#" not in ln and "(text#" not in ln


def test_pack_sequences_single_window_shuffle(spark):
    from ocr_pipeline_spark.operators.splits import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(pack_sequences(docs, "n_chars", budget=4096, shard_col="lang"))
    assert plan.count("Exchange") == 1       # one shuffle: the shard window
    assert " text#" not in plan              # text pruned at the scan


def test_chunk_dedup_election_shuffles_hashes_only(spark):
    """chunk_dedup's scale contract: the winner-election exchanges
    (everything keyed on the 16-hex chunk hash) carry only (chash,
    doc_id, chunk_idx) shorts; chunk TEXT crosses exactly one exchange
    — the final doc_id reassembly join, as the docstring accounts."""
    from ocr_pipeline_spark.operators.dedup import chunk_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = chunk_dedup(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the checkpointed keyed view serves election AND kept-index join:
    # one scan for them + one for reassembly, never one per consumer
    assert plan.count("FileScan") <= 2
    blocks = _shuffle_blocks(df)
    assert blocks
    text_blocks = [
        b for b in blocks if "chunks#" in b or "chunk#" in b or "text#" in b
    ]
    assert len(text_blocks) <= 1, text_blocks
    for b in blocks:
        if "chash#" in b:
            assert "chunk#" not in b and "chunks#" not in b, b


def test_boilerplate_scrub_election_shuffles_hashes_only(spark):
    """boilerplate_scrub's scale contract mirrors chunk_dedup's: the
    document-frequency election and the left-anti ubiquity join carry
    only (chash, doc_id, chunk_idx) shorts; chunk TEXT crosses exactly
    one exchange — the final doc_id reassembly join."""
    from ocr_pipeline_spark.operators.dedup import boilerplate_scrub

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = boilerplate_scrub(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the checkpointed keyed view serves the df election AND the
    # kept-index anti-join: one scan for them + one for reassembly
    assert plan.count("FileScan") <= 2
    blocks = _shuffle_blocks(df)
    assert blocks
    text_blocks = [
        b for b in blocks if "chunks#" in b or "chunk#" in b or "text#" in b
    ]
    assert len(text_blocks) <= 1, text_blocks
    for b in blocks:
        if "chash#" in b:
            assert "chunk#" not in b and "chunks#" not in b, b


def test_quality_scores_single_scan_no_text_shuffle(spark):
    """quality_scores' scale contract: the lazily checkpointed bucketed
    view feeds BOTH the weight aggregation and the scoring aggregation
    (one corpus scan), the weight table joins as a broadcast (no
    shuffle), and no exchange carries the text payload."""
    from ocr_pipeline_spark.operators.classifier import quality_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = quality_scores(docs)
    plan = _plan(df)
    assert plan.count("FileScan") <= 1
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for b in _shuffle_blocks(df):
        assert "text#" not in b, b


def test_top_fraction_is_take_ordered_not_global_sort(spark):
    """select_top_fraction's scale contract: sort+limit compiles to
    TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    range-repartitioned global Sort of the corpus."""
    from ocr_pipeline_spark.operators.classifier import (
        select_top_fraction,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(select_top_fraction(docs, frac=0.25))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_lang_id_ngram_is_broadcast_lookup(spark):
    """lang_id_ngram's plan contract after the r4 codegen rewrite: the
    trigram array is built ONCE (sequence/substr staged, not re-inlined
    per profile — the no-CSE trap), the ~120-row (trigram, lang) lookup
    joins as a BROADCAST (no shuffle of the exploded trigram stream),
    and exactly one Exchange remains — the partial-aggregated groupBy
    carrying (doc_id, 4 bigint counts). The pre-r4 form was Exchange-
    free but paid ~120 interpreted CodegenFallback comparisons per
    trigram; the hash-join form stays in whole-stage codegen."""
    from ocr_pipeline_spark.operators.textstats import lang_id_ngram

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = lang_id_ngram(docs)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # partial aggregation fires before the exchange (map-side combine:
    # only one row per (partition, doc_id) crosses)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan, plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("sequence(1,") == 1, opt
    # the higher-order membership filter is gone — no per-language
    # array_contains/exists chain in the optimized plan
    assert "exists(" not in opt and "filter(_tri" not in opt, opt


def test_mix_budget_totals_broadcast_no_text(spark):
    """mix_token_budget's scale contract: the per-source rate table
    joins back as a broadcast (a handful of rows), the keep decision is
    scan-local, and no exchange carries text."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.splits import mix_token_budget
    from ocr_pipeline_spark.operators.textstats import tokens

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    df = mix_token_budget(docs, {"src0": 5000}, budget=500)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    for b in _shuffle_blocks(df):
        assert "text#" not in b, b


def test_profile_single_scan(spark):
    """profile_table's contract: one aggregate pass — a single corpus
    scan no matter how many columns are profiled."""
    from ocr_pipeline_spark.operators.profiling import profile_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(profile_table(docs))
    assert plan.count("FileScan") == 1


def test_pagerank_iterations_shuffle_bigints_only(spark):
    """pagerank's scale contract: every per-iteration exchange carries
    node-id/rank/degree bigints — no wide rows — and the rank tables
    are lineage-truncated (localCheckpoint), so the executed plan does
    not re-derive the edge list once per iteration."""
    from ocr_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(40)], "src long, dst long"
    )
    df = pagerank(edges, n_iters=3)
    # lineage truncation: the final plan hangs off checkpointed RDD
    # scans (each round materializes), not a 3x-unrolled join tree —
    # that truncation is itself the visible-plan contract here; any
    # exchange that does appear must carry no wide attributes
    plan = _plan(df)
    assert "Scan ExistingRDD" in plan
    for b in _shuffle_blocks(df):
        for attr in ("text#", "props#", "url#"):
            assert attr not in b, b


def test_bloom_gate_exact_join_only_on_filter_hits(spark):
    """bloom_gate's scale contract: the filter state reaches the probe
    as a broadcast; the exact known-key join input is the maybe-hit
    subset, never the whole increment union the known store's text."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.bloom import bloom_gate

    known = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "v string"
    )
    inc = spark.createDataFrame(
        [(f"i{i}", f"k{i % 60}") for i in range(200)],
        "doc_id string, v string",
    )
    df = bloom_gate(inc, known, "v", m_bits=512, n_hashes=3)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_no_inferred_generate_filter(spark):
    """bloom_probe keeps a bare explode over the md5-position array (a
    NULL probe key must still emit a row); that is safe only while no
    size()>0 filter is inferred from the Generate (SPARK-33544 skips
    CreateArray inputs). Pin it: if _positions ever stops being a
    literal array constructor, InferFiltersFromGenerate would re-inline
    the whole md5 tree into a pushed Filter and this breaks."""
    from ocr_pipeline_spark.operators.bloom import bloom_build, bloom_probe

    keys = spark.createDataFrame([(f"k{i}",) for i in range(20)], "v string")
    df = bloom_probe(keys, bloom_build(keys, "v", m_bits=512), "v",
                     m_bits=512)
    optimized = (
        df._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "size(" not in optimized


def test_collocations_single_tokenize_short_shuffles(spark):
    """collocations' scale contract: the token-array projection is
    materialized once (checkpoint boundary) feeding both counters, and
    no exchange carries the document text."""
    from ocr_pipeline_spark.operators.collocations import collocations

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = collocations(docs, min_count=2, top_k=10)
    for b in _shuffle_blocks(df):
        assert "text#" not in b, b
    assert "Scan ExistingRDD" in _plan(df)


def test_postings_global_df_single_window_over_packed_rows(spark):
    """term_postings' scale contract: the df window runs over the
    packed (term, shard) rows — the plan has exactly two wide
    aggregates ((term,doc) then (term,shard)) before the window, and
    no exchange carries text."""
    from ocr_pipeline_spark.operators.index import term_postings

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = term_postings(docs, n_shards=2, min_df=2)
    for b in _shuffle_blocks(df):
        assert "text#" not in b, b


def test_semantic_dedup_candidates_equi_join_no_cross_product(spark):
    """semantic_dedup's within-cell pairing must plan as an equi-join on
    the int cell id (the a.id < b.id bound rides along as a join
    condition) — never a cartesian/nested-loop product, which would be
    the O(N^2) non-starter the clustering exists to prevent."""
    from ocr_pipeline_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, k=8, iters=0, threshold=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weights_text_free_shuffles(spark):
    """dsir_weights' scale contract: shuffles carry only (doc_id,
    16-hex thash) and bigint counts — the document text never crosses
    an exchange; the (N, V) scalar tables join as broadcasts."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = dsir_weights(docs, F.col("lang") == "en")
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    for b in _shuffle_blocks(df):
        assert "text#" not in b, b


def test_stupid_backoff_shuffles_hashes_only(spark):
    """stupid_backoff's scale contract: the LM count tables and every
    scoring join move 16-hex token hashes and bigint counts only —
    token/document TEXT never crosses an exchange (it dies at the
    staged tokenize checkpoint); the (N, V) corpus scalars broadcast;
    no all-pairs join exists."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import stupid_backoff

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = stupid_backoff(
        docs.filter(F.col("doc_id") % 2 == 1),
        lm_docs=docs.filter(F.col("doc_id") % 2 == 0),
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # the ONLY nested-loop joins allowed are the 1-row (N, V) scalar
    # crossJoin broadcasts — every BNLJ must be a Cross build, never a
    # data-on-data nested loop
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln, ln
    assert "BroadcastExchange" in plan  # the 1-row (N, V) stats
    import re as _re

    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|toks|_h)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b


def test_vocab_coverage_topk_not_global_sort(spark):
    """vocab_coverage's scale contract: the top-max(ks) vocabulary
    slice compiles to TakeOrderedAndProject (per-partition top-k +
    bounded merge), never a range-repartitioned global Sort of the
    vocabulary; the corpus-sized shuffle carries (thash, cnt) only."""
    import re as _re

    from ocr_pipeline_spark.operators.lm import vocab_coverage

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = vocab_coverage(docs)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|toks|tok)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b


def test_cross_source_chunks_shuffles_shorts_only(spark):
    """cross_source_chunks' scale contract: the source labeling join,
    the (source, chash) distinct, and the chash self-join all move
    short keys — chunk TEXT never crosses an exchange (it dies at the
    shared checkpointed chunk-hash stage)."""
    import re as _re

    from ocr_pipeline_spark.operators.dedup import cross_source_chunks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = cross_source_chunks(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|toks|chunk|chunks)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b


def test_source_drift_shuffles_hashes_only(spark):
    """source_drift's scale contract: one checkpointed tokenize pass
    feeds both count aggregations; every exchange carries (grp, thash,
    bigint) shorts — text/token payload never shuffles; the 1-row N
    scalar broadcasts (Cross build only)."""
    import re as _re

    from ocr_pipeline_spark.operators.textstats import source_drift

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = source_drift(docs)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln, ln
    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|toks|tok|_t)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b


def test_url_rule_verdicts_broadcasts_rules(spark):
    """url_rule_verdicts' scale contract: the rules dim joins as a
    broadcast (never a shuffled sort-merge join of the url corpus
    against the rule list), no cartesian/nested-loop join exists, and
    the only shuffle is the per-url min-category aggregation."""
    from ocr_pipeline_spark.operators.urlkit import (
        BLOCK_RULES,
        url_rule_verdicts,
    )

    urls = spark.read.parquet(f"{SF_DIR}/documents.parquet").selectExpr(
        "concat('https://site', cast(doc_id % 30 as string), '.example/p/', cast(doc_id as string)) AS url"
    )
    rules = spark.createDataFrame(
        BLOCK_RULES, "domain string, path_prefix string, category string"
    )
    df = url_rule_verdicts(urls, rules)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    blocks = _shuffle_blocks(df)
    assert len(blocks) <= 1, blocks


def test_fuzzy_decontam_candidate_generation_is_banded(spark):
    """fuzzy_decontam inherits the LSH scale contract: candidate
    generation is the banded equi-join (no cartesian/nested-loop
    anywhere), and no exchange carries document text."""
    import re as _re

    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.decontam import fuzzy_decontam

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    df = fuzzy_decontam(docs, bench)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|_sh|sh|sh_b)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b


def test_bm25_topk_not_global_sort(spark):
    """bm25_search's scale contract: the corpus is scanned and tokenized
    once, the final top-k compiles to TakeOrderedAndProject, the (N, L)
    scalars broadcast (Cross build only), and no exchange carries the
    token stream's text column."""
    import re as _re

    from ocr_pipeline_spark.operators.index import bm25_search

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = bm25_search(docs, ("spark", "dup", "vector"), k=8)
    plan = _plan(df)
    assert plan.count("FileScan") <= 1      # checkpointed tokenize
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross" in ln, ln
    payload = _re.compile(r"(?<![A-Za-z0-9_])(text|toks)#")
    for b in _shuffle_blocks(df):
        assert not payload.search(b), b
