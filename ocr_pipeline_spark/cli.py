"""Command-line entry points — the rebuild of the reference's user-facing
API surface (pipeline/app.py: POST /ocr, /batch_ocr, GET /metrics).

A service endpoint taking one document at a time is the wrong shape for a
10^12-doc corpus; the equivalent operations here are:

    /ocr (one doc)     →  `extract` on a table with one row, or the pure
                          kernel: ocr_pipeline_spark.kernels.extract_document
    /batch_ocr         →  `extract` (cross-doc batching is the Arrow batch)
    /batch_ocr streaming→ `stream` (size/time/drain triggers)
    /metrics           →  per-stage docs/sec JSON lines on stdout
    load_test.py       →  `synth` + `extract` (or bench.py)

Usage (also via spark-submit — the module is import-safe):

    python -m ocr_pipeline_spark.cli synth   --out /tmp/pages -n 10000
    python -m ocr_pipeline_spark.cli extract --input /tmp/pages \
        --out /tmp/extracted --manifest /tmp/manifests
    python -m ocr_pipeline_spark.cli stream  --input /tmp/pages \
        --out /tmp/extracted --checkpoint /tmp/ckpt --available-now
    python -m ocr_pipeline_spark.cli warc    --input 'crawl/*.warc.gz' \
        --out /tmp/pages
    python -m ocr_pipeline_spark.cli tokenize --input /tmp/docs \
        --out /tmp/tokens --train-on-corpus
    python -m ocr_pipeline_spark.cli score   --input /tmp/docs \
        --out /tmp/best --top-fraction 0.25
"""

from __future__ import annotations

import argparse

from .session import get_spark


def _cmd_synth(args) -> None:
    from .sources.synth_pages import write_pages_parquet

    spark = get_spark("cli-synth", cores=args.cores)
    write_pages_parquet(spark, args.out, args.n, seed=args.seed)
    print(f"wrote {args.n} pages to {args.out}")


def _cmd_extract(args) -> None:
    from .plans.extract_job import run_extraction

    spark = get_spark("cli-extract", cores=args.cores)
    pages = spark.read.parquet(args.input)
    run_id = run_extraction(
        spark,
        pages,
        args.out,
        args.manifest,
        n_buckets=args.buckets,
    )
    print(f"run_id={run_id}")


def _cmd_stream(args) -> None:
    from .streaming import start_extract_stream

    spark = get_spark("cli-stream", cores=args.cores)
    q = start_extract_stream(
        spark,
        args.input,
        args.out,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        processing_time=args.processing_time,
        available_now=args.available_now,
    )
    q.awaitTermination(args.timeout)
    if q.isActive:
        q.stop()


def _cmd_curate(args) -> None:
    from .plans.curate_job import run_curation

    spark = get_spark("cli-curate", cores=args.cores)
    docs = spark.read.parquet(args.input)
    langs = tuple(args.langs.split(",")) if args.langs else None
    run_curation(
        spark, docs, args.out, langs=langs, dedup=args.dedup or None,
        max_rep_ratio=args.max_rep_ratio, scrub=args.scrub,
    )


def _cmd_stream_curate(args) -> None:
    from .streaming import start_curate_stream

    spark = get_spark("cli-stream-curate", cores=args.cores)
    langs = tuple(args.langs.split(",")) if args.langs else None
    q = start_curate_stream(
        spark,
        args.input,
        args.out,
        args.checkpoint,
        langs=langs,
        watermark=args.watermark,
        available_now=args.available_now,
        processing_time=args.processing_time,
    )
    q.awaitTermination(args.timeout)
    if q.isActive:
        q.stop()


def _cmd_tokenize(args) -> None:
    from .kernels.bpe import default_merges
    from .operators.bpe import bpe_encode_pandas, bpe_train

    spark = get_spark("cli-tokenize", cores=args.cores)
    docs = spark.read.parquet(args.input)
    if args.train_on_corpus:
        merges = bpe_train(docs, n_merges=args.merges)
    else:
        merges = default_merges(args.merges)
    bpe_encode_pandas(docs, merges).write.mode("overwrite").parquet(
        args.out
    )
    print(f"encoded with {len(merges)} merges -> {args.out}")


def _cmd_semdedup(args) -> None:
    from .operators.similarity import semantic_dedup

    spark = get_spark("cli-semdedup", cores=args.cores)
    emb = spark.read.parquet(args.input)
    out = semantic_dedup(
        emb,
        k=args.k,
        iters=args.iters,
        threshold=args.threshold,
    )
    out.write.mode("overwrite").parquet(args.out)
    kept = spark.read.parquet(args.out).filter("keep").count()
    print(f"wrote semantic-dedup flags to {args.out} ({kept} kept)")


def _cmd_dsir(args) -> None:
    from pyspark.sql import functions as F

    from .operators.lm import dsir_weights

    spark = get_spark("cli-dsir", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = dsir_weights(docs, F.expr(args.target_where))
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote DSIR importance weights to {args.out} ({n} docs)")


def _cmd_dupspans(args) -> None:
    from .operators.dedup import dup_spans

    spark = get_spark("cli-dupspans", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = dup_spans(docs, n=args.n)
    out.write.mode("overwrite").parquet(args.out)
    flagged = spark.read.parquet(args.out).filter(
        f"dup_bp >= {args.flag_bp}"
    ).count()
    print(
        f"wrote duplicated-span coverage to {args.out} "
        f"({flagged} docs at >= {args.flag_bp} bp)"
    )


def _cmd_scrub(args) -> None:
    from .operators.dedup import boilerplate_scrub

    spark = get_spark("cli-scrub", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = boilerplate_scrub(docs, k=args.k, max_df=args.max_df)
    out.write.mode("overwrite").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .selectExpr(
            "count(*) AS docs",
            "sum(n_chunks) AS chunks",
            "sum(n_chunks) - sum(n_kept) AS scrubbed",
        )
        .first()
    )
    print(
        f"wrote boilerplate-scrubbed corpus to {args.out} "
        f"({stats['docs']} docs, {stats['scrubbed']}/{stats['chunks']} "
        f"chunks removed at df > {args.max_df})"
    )


def _cmd_search(args) -> None:
    from .operators.index import bm25_search

    spark = get_spark("cli-search", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = bm25_search(docs, tuple(args.terms), k=args.k)
    for r in out.collect():
        print(
            f"doc {r['doc_id']:>10}  score {r['score']:>8} "
            f"({r['n_terms_hit']}/{len(args.terms)} terms)"
        )


def _cmd_decontam(args) -> None:
    from .operators.decontam import contamination_flags, fuzzy_decontam

    spark = get_spark("cli-decontam", cores=args.cores)
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench)
    if args.mode == "exact":
        out = contamination_flags(
            docs, bench, threshold_pct=args.threshold_pct
        )
        flag_col = "is_contaminated"
    else:
        out = fuzzy_decontam(
            docs, bench, min_jaccard_bp=args.min_jaccard_bp
        )
        flag_col = "fuzzy_contaminated"
    out.write.mode("overwrite").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .selectExpr(
            "count(*) AS docs",
            f"sum(cast({flag_col} as int)) AS flagged",
        )
        .first()
    )
    print(
        f"wrote {args.mode} contamination verdicts to {args.out} "
        f"({stats['flagged']}/{stats['docs']} docs flagged)"
    )


def _cmd_lmscore(args) -> None:
    from pyspark.sql import functions as F

    from .operators.lm import stupid_backoff

    spark = get_spark("cli-lmscore", cores=args.cores)
    docs = spark.read.parquet(args.input)
    lm = spark.read.parquet(args.lm) if args.lm else None
    out = stupid_backoff(
        docs,
        lm_docs=lm,
        penalty_bits=args.penalty_bits,
    )
    out.write.mode("overwrite").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .selectExpr(
            "count(*) AS docs",
            "sum(n_backoff) AS backoffs",
            "avg(surprisal_bp) AS mean_bp",
        )
        .first()
    )
    print(
        f"wrote stupid-backoff LM scores to {args.out} "
        f"({stats['docs']} docs, {stats['backoffs']} backoffs, "
        f"mean {stats['mean_bp']:.0f} bp)"
    )


def _cmd_vocab(args) -> None:
    from .operators.lm import vocab_coverage

    spark = get_spark("cli-vocab", cores=args.cores)
    docs = spark.read.parquet(args.input)
    ks = tuple(int(k) for k in args.ks.split(","))
    for r in vocab_coverage(docs, ks=ks).orderBy("k").collect():
        print(
            f"top-{r['k']:>8}: {r['coverage_bp'] / 100:6.2f}% of "
            f"{r['n_total']} occurrences (vocab {r['vocab']})"
        )


def _cmd_overlap(args) -> None:
    from .operators.dedup import cross_source_chunks

    spark = get_spark("cli-overlap", cores=args.cores)
    docs = spark.read.parquet(args.input)
    out = cross_source_chunks(docs, k=args.k).orderBy(
        "shared_chunks", ascending=False
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    for r in out.limit(args.top).collect():
        print(f"{r['source_a']} ~ {r['source_b']}: {r['shared_chunks']}")


def _cmd_score(args) -> None:
    from .operators.classifier import quality_scores, select_top_fraction

    spark = get_spark("cli-score", cores=args.cores)
    docs = spark.read.parquet(args.input)
    if args.top_fraction is not None:
        out = select_top_fraction(docs, frac=args.top_fraction)
    else:
        out = quality_scores(docs)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote quality scores to {args.out}")


def _cmd_profile(args) -> None:
    from .operators.profiling import profile_table

    spark = get_spark("cli-profile", cores=args.cores)
    df = spark.read.parquet(args.input)
    for r in profile_table(df).collect():
        print(
            f"{r['col_name']}\trows={r['n_rows']}\tnulls={r['n_nulls']}\t"
            f"distinct={r['n_distinct']}\tmin={r['min_value'][:40]}\t"
            f"max={r['max_value'][:40]}"
        )


def _cmd_report(args) -> None:
    from .operators.profiling import corpus_report

    spark = get_spark("cli-report", cores=args.cores)
    df = spark.read.parquet(args.input)
    for r in corpus_report(df).collect():
        print(f"{r['metric']}\t{r['value']}")


def _cmd_links(args) -> None:
    from .operators.links import link_rows

    spark = get_spark("cli-links", cores=args.cores)
    pages = spark.read.parquet(args.input)
    link_rows(pages).write.mode(args.mode).parquet(args.out)
    print(f"wrote link table to {args.out}")


def _cmd_rank(args) -> None:
    from pyspark.sql import functions as F

    from .operators.graph import pagerank
    from .operators.links import page_edges

    spark = get_spark("cli-rank", cores=args.cores)
    pages = spark.read.parquet(args.input)
    ranks = pagerank(page_edges(pages), n_iters=args.iters)
    if args.out:
        ranks.write.mode(args.mode).parquet(args.out)
        print(f"wrote {ranks.count()} page ranks to {args.out}")
    else:
        for r in ranks.orderBy(F.desc("rank_bp"), "node").limit(
            args.top
        ).collect():
            print(f"{r['node']}\t{r['rank_bp']}")


def _cmd_warc(args) -> None:
    from .sources.warc import read_warc

    spark = get_spark("cli-warc", cores=args.cores)
    read_warc(spark, args.input).write.mode(args.mode).parquet(args.out)
    print(f"wrote pages table to {args.out}")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="ocr_pipeline_spark")
    ap.add_argument("--cores", default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("synth", help="write a deterministic pages table")
    p.add_argument("--out", required=True)
    p.add_argument("-n", type=int, default=1000)
    p.add_argument("--seed", type=int, default=42)
    p.set_defaults(fn=_cmd_synth)

    p = sub.add_parser("extract", help="run/resume the extraction job")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.set_defaults(fn=_cmd_extract)

    p = sub.add_parser("stream", help="streaming extraction")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--processing-time", default=None)
    p.add_argument("--available-now", action="store_true")
    p.add_argument("--timeout", type=int, default=3600)
    p.set_defaults(fn=_cmd_stream)

    p = sub.add_parser("curate", help="quality-gate + dedup a documents table")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--langs", default="en", help="comma list; empty = all")
    p.add_argument(
        "--dedup", default="exact", choices=["exact", "minhash", ""]
    )
    p.add_argument("--max-rep-ratio", type=float, default=None,
                   help="drop docs whose 2-gram repetition ratio exceeds this")
    p.add_argument("--scrub", action="store_true",
                   help="redact PII in the surviving text")
    p.set_defaults(fn=_cmd_curate)

    p = sub.add_parser(
        "stream-curate",
        help="streaming curation (quality gate + watermark dedup)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--langs", default="", help="comma list; empty = all")
    p.add_argument("--watermark", default="24 hours")
    p.add_argument("--available-now", action="store_true")
    p.add_argument("--processing-time", default=None)
    p.add_argument("--timeout", type=int, default=3600)
    p.set_defaults(fn=_cmd_stream_curate)

    p = sub.add_parser(
        "tokenize", help="BPE-encode a documents table (Arrow bulk path)"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--merges", type=int, default=24)
    p.add_argument(
        "--train-on-corpus",
        action="store_true",
        help="train the merge table on the input corpus (distributed) "
        "instead of the fixed TRAIN_CORPUS tokenizer",
    )
    p.set_defaults(fn=_cmd_tokenize)

    p = sub.add_parser(
        "score", help="model-based quality scores for a documents table"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--top-fraction",
        type=float,
        default=None,
        help="keep only the best FRAC of docs by score",
    )
    p.set_defaults(fn=_cmd_score)

    p = sub.add_parser(
        "dsir",
        help="DSIR importance weights vs an in-corpus target slice",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--target-where",
        required=True,
        help="SQL predicate defining the target slice, e.g. \"lang = 'en'\"",
    )
    p.set_defaults(fn=_cmd_dsir)

    p = sub.add_parser(
        "dupspans",
        help="Lee-et-al exact-substring dedup coverage per document",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n", type=int, default=8, help="window size (tokens)")
    p.add_argument(
        "--flag-bp",
        type=int,
        default=5000,
        help="report count of docs at/above this dup coverage (basis points)",
    )
    p.set_defaults(fn=_cmd_dupspans)

    p = sub.add_parser(
        "scrub",
        help="RefinedWeb-style ubiquitous-chunk boilerplate removal",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--k", type=int, default=10, help="chunk size (tokens)")
    p.add_argument(
        "--max-df",
        type=int,
        default=2,
        help="drop chunks appearing in more than this many distinct docs",
    )
    p.set_defaults(fn=_cmd_scrub)

    p = sub.add_parser(
        "search", help="BM25 ranked retrieval over a documents table"
    )
    p.add_argument("--input", required=True)
    p.add_argument("terms", nargs="+", help="query terms")
    p.add_argument("--k", type=int, default=10)
    p.set_defaults(fn=_cmd_search)

    p = sub.add_parser(
        "decontam",
        help="benchmark decontamination screen (exact n-gram or fuzzy LSH)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--bench", required=True, help="benchmark parquet (doc_id, text)")
    p.add_argument("--out", required=True)
    p.add_argument("--mode", choices=["exact", "fuzzy"], default="exact")
    p.add_argument("--threshold-pct", type=int, default=10)
    p.add_argument("--min-jaccard-bp", type=int, default=5000)
    p.set_defaults(fn=_cmd_decontam)

    p = sub.add_parser(
        "lmscore",
        help="stupid-backoff LM surprisal scores (Brants 2007)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--lm",
        default=None,
        help="parquet of LM training docs (default: self-train on input)",
    )
    p.add_argument("--penalty-bits", type=int, default=1)
    p.set_defaults(fn=_cmd_lmscore)

    p = sub.add_parser(
        "vocab", help="top-K vocabulary coverage curve of a corpus"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--ks", default="1,10,100,1000,10000")
    p.set_defaults(fn=_cmd_vocab)

    p = sub.add_parser(
        "overlap",
        help="cross-source shared-chunk provenance matrix",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", default=None)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--top", type=int, default=20)
    p.set_defaults(fn=_cmd_overlap)

    p = sub.add_parser(
        "semdedup",
        help="SemDeDup semantic dedup flags for an embeddings table",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--threshold", type=float, default=0.7)
    p.set_defaults(fn=_cmd_semdedup)

    p = sub.add_parser(
        "profile", help="ANALYZE-style per-column stats of a table"
    )
    p.add_argument("--input", required=True)
    p.set_defaults(fn=_cmd_profile)

    p = sub.add_parser(
        "report", help="dataset-card rollup of a documents table"
    )
    p.add_argument("--input", required=True)
    p.set_defaults(fn=_cmd_report)

    p = sub.add_parser(
        "links", help="harvest anchor links from a pages table"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--mode", default="overwrite")
    p.set_defaults(fn=_cmd_links)

    p = sub.add_parser(
        "rank", help="PageRank over the extracted page graph"
    )
    p.add_argument("--input", required=True)
    p.add_argument("--out", default=None)
    p.add_argument("--mode", default="overwrite")
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--top", type=int, default=20)
    p.set_defaults(fn=_cmd_rank)

    p = sub.add_parser("warc", help="ingest WARC archives into a pages table")
    p.add_argument("--input", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--mode", default="overwrite")
    p.set_defaults(fn=_cmd_warc)
    return ap


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
