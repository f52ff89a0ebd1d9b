"""Benchmark harness (driver contract + north-rule scaling evidence).

Default mode: run the headline queries at ``$SPARK_GRAFT_SF_DIR``
(default ``DEFAULT_SF_DIR``) on ``local[$SPARK_GRAFT_CPUS]``. The full
result goes to ``bench_result.json`` next to this file::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

and stdout ends with ONE short JSON line, ``value`` first, so a log cut
to its tail still carries the headline::

    {"value": <total sec>, "unit": "sec", "metric": "...", "full": "bench_result.json"}

``--scaling`` mode (north rule, BASELINE.json): run the SAME fused
extraction job on the SAME synthesized pages table at two parallelism
levels (local[N] and local[4N], default N=4) and report docs/sec at both
plus scaling efficiency = (T_N / T_4N) / 4. This is the sandbox stand-in
for N vs 4N executors (no real cluster here); the job itself is a single
narrow mapInPandas stage, so its scaling is governed by input partition
count — which we set explicitly to ≥ 2× the larger core count.

Timing excludes session startup; each query is forced with a noop-format
write (full materialization, zero sink cost, no driver collect).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession

RESULT_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
)
# no progress bars: they interleave with the result line on the console
QUIET = {"spark.ui.showConsoleProgress": "false"}

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "o4_top_order_per_cust",
    "j3_regroup_order",
    "a1_explode_tokens",
    # training-data ops
    "ts_quality_flags",
    "dd_minhash",
    "dd_lsh_pairs",
    "sim_topk_bruteforce",
    "t_asof_last_click",
    "t_sessions",
    "cur_exact_keep",
    # extraction flagship (synthesized pages parquet, see _pages_path)
    "x_extract_fused",
]

# round-3 operator additions, timed outside the headline total (which
# stays comparable to the r1/r2 baselines); values recorded per round
# in BASELINE.md alongside the headline table
EXTENDED = [
    "dd_chunk_dedup",
    "qc_scores",
    "qc_top_fraction",
    "ml_kmeans_cells",
    "sp_epoch_shuffle",
    "sp_mix_budget",
    "sk_heavy_hitters",
    "ct_contamination",
    "meta_profile",
    "a_rollup_stats",
    "ts_nfc",
    "ts_langid_ngram",
    "sp_zorder",
    "p_unpivot",
    # round-4 additions
    "sp_reservoir",
    "cur_domain_cap",
    "sk_quantiles",
    "lm_doc_surprisal",
    "lm_head_split",
    "sk_bloom",
    "ix_postings",
    "g_pagerank",
    "cur_bloom_gate",
    "ts_collocations",
    "sim_rp_reduce",
    "dd_containment",
    "lm_bigram_surprisal",
    "x_links",
    "g_pagerank_web",
    "lm_head_split_approx",
    "sp_mix_temperature",
    # round-5 additions: trained-codebook IVF (k-means rounds included
    # in its time) and the streaming-curation micro-batch replay (the
    # number is dominated by stream machinery per micro-batch — the
    # honest cost of the dual-definition check, not of curation itself)
    "sim_ivf_trained",
    "cur_stream_parity",
    # SemDeDup semantic dedup: shares sim_ivf_trained's Lloyd-chain
    # training cost plus one within-cell equi-join
    "sim_semdedup",
    # DSIR importance weights: two unigram LMs over one tokenize pass
    "cur_dsir",
    # Lee et al. exact-substring dedup coverage (interval union over
    # duplicated 8-gram windows; two pruned scans by design)
    "dd_dup_spans",
    # RefinedWeb ubiquitous-chunk boilerplate removal (df election +
    # left-anti on the 16-hex chunk hash; two corpus scans like
    # dd_chunk_dedup)
    "dd_boilerplate",
    # stupid-backoff cross-corpus LM scoring (Brants 2007; even/odd
    # train/score split, two count tables + left equi-joins)
    "lm_stupid_backoff",
    # vocab coverage curve (one count pass + TakeOrderedAndProject)
    "lm_vocab_coverage",
    # cross-source shared-chunk provenance matrix (per-source distinct
    # chunk hashes + chash self-join bounded by |sources|^2 per key)
    "dd_cross_source",
    # per-source TVD drift (exact integer basis points, analytic
    # out-of-vocab term — no per-group full-vocab outer join)
    "cur_source_drift",
    # UT1-style URL blocklist verdicts (suffix expansion + broadcast
    # rule join; fixture corpus, so sub-second by design)
    "url_rules",
    # ftfy-style mojibake triage (scan-local replace() arithmetic)
    "ts_mojibake",
    # Luhn-gated card redaction (scan-local staged HOF chain)
    "ts_card_scrub",
    # MinHash/LSH fuzzy decontamination (banded candidates + exact
    # Jaccard verify against a re-keyed benchmark slice)
    "ct_fuzzy",
    # feature-hashing text embeddings (scan-local HOF featurizer)
    "sim_hash_embed",
    # crawl-frontier canonical-URL dedup (scan-local canon + groupBy)
    "dd_url_dedup",
    # windowFunnel-style ordered funnel (per-step short-key groupBys)
    "t_funnel",
    # cohort retention over dialect-free epoch weeks
    "t_retention",
    # BM25 exact-integer ranked retrieval (TakeOrderedAndProject top-k)
    "ix_bm25",
    # curriculum order (surprisal phases x epoch-keyed permutation)
    "sp_curriculum",
    # connected components of the page graph (hash-min + pointer jump)
    "g_components",
    # KMV set algebra: union/intersection/Jaccard from k-row sketches
    "sk_set_overlap",
    # TPC-H Q4/Q14 shapes (exists semi-join count; promo revenue share)
    "q4_order_priority",
    "q14_promo_revenue",
    # language-gate evaluation (per-class precision/recall/F1 in bp)
    "ts_lang_confusion",
    # byte-identical media dedup (one groupBy on the payload md5)
    "mm_dedup",
    # per-session value rollup (session_window + decimal money fold)
    "t_session_value",
    # classifier-vs-perplexity agreement matrix (two oracled scorers)
    "qc_vs_lm",
    # boilerplate template audit (df election + winners-only text)
    "dd_templates",
    # per-key EWMA (deterministic sequential left fold)
    "t_ewma",
    # degree distribution of the page graph (two count aggregations)
    "g_degree_dist",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _sf_of(sf_dir: str) -> float:
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def _pages_path_n(n: int) -> tuple[str, int]:
    return f"/tmp/bench_pages_n{n}", n


def _pages_path(sf: float) -> tuple[str, int]:
    """Synthetic pages parquet for the extraction benchmark; page count
    scales with sf (sf0.1 → 4000 pages, 8.75 MB of HTML/PDF payloads)."""
    return _pages_path_n(max(200, int(40_000 * sf)))


def _ensure_pages(spark: SparkSession, sf: float) -> str:
    from ocr_pipeline_spark.sources.synth_pages import write_pages_parquet

    path, n = _pages_path(sf)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_pages_parquet(spark, path, n)
    return path


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_headline(sf_dir: str, cores: str) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from ocr_pipeline_spark.operators.extraction import extract_pages
    from ocr_pipeline_spark.session import get_spark

    spark = get_spark("bench", cores=cores, extra_conf=QUIET)
    sf = _sf_of(sf_dir)
    pages_parquet = _ensure_pages(spark, sf)
    qs = entrymod.queries()
    # swap the in-memory synth pages for the parquet-scale table
    qs["x_extract_fused"] = lambda s, d: extract_pages(
        s.read.parquet(pages_parquet)
    )

    timings: dict[str, float] = {}
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        t0 = time.monotonic()
        _force(df)
        timings[name] = round(time.monotonic() - t0, 3)
    # round-3+ operators, timed separately so the headline total stays
    # comparable across rounds (per-query baselines in BASELINE.md).
    # Timing here INCLUDES query construction (r5 change): the driver-
    # loop operators (ml_kmeans_cells' training collects, sim_ivf_trained,
    # cur_stream_parity's micro-batch replay) do their real work eagerly
    # at construction, which t0-after-construction silently excluded;
    # for lazy queries construction is expression-tree building (~ms),
    # inside noise.
    extended: dict[str, float] = {}
    for name in EXTENDED:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        _force(df)
        extended[name] = round(time.monotonic() - t0, 3)
    recall = _ann_recall(spark, sf_dir)
    tokenizer = _bpe_throughput(spark, sf_dir)
    spark.stop()
    return {
        "metric": "headline query suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "recall": recall,
        "tokenizer": tokenizer,
        "sf": sf,
    }


def _bpe_throughput(spark: SparkSession, sf_dir: str) -> dict:
    """BPE bulk-encode throughput over the documents table (untimed —
    not part of `value`, reported like `recall` so tokenizer-path
    regressions are visible). Uses the production Arrow encoder
    (bpe_encode_pandas); the expression path is the cross-engine spec
    form and is validated by the driver's bpe_encode query instead."""
    from ocr_pipeline_spark.kernels.bpe import default_merges
    from ocr_pipeline_spark.operators.bpe import bpe_encode_pandas

    merges = default_merges()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    _force(bpe_encode_pandas(docs, merges))  # warm the Python workers
    t0 = time.monotonic()
    _force(bpe_encode_pandas(docs, merges))
    dt = time.monotonic() - t0
    return {
        "encode_sec": round(dt, 3),
        "docs_per_sec": round(n / dt, 1),
        "n_docs": n,
        "n_merges": len(merges),
    }


def _ann_recall(spark: SparkSession, sf_dir: str, k: int = 10) -> dict:
    """Recall@k of the approximate top-k paths vs brute force, reported
    per run so a regression in the md5-seeded plane/centroid constants
    is visible in the bench artifact (untimed — not part of `value`).
    Result sets are len(query_ids)×k rows: a bounded collect."""
    from ocr_pipeline_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]

    def _sets(df) -> dict[int, set[int]]:
        out: dict[int, set[int]] = {q: set() for q in qids}
        for r in df.collect():
            out[r["query_id"]].add(r["neighbor_id"])
        return out

    truth = _sets(brute_force_topk(emb, query_ids=qids, k=k))
    denom = sum(len(v) for v in truth.values())
    # trained IVF codebook: fixed-point k-means rescaled + L2-normalized
    from ocr_pipeline_spark.operators.clustering import (
        KM_SCALE,
        kmeans_centroids,
    )

    trained = []
    for _, cv in sorted(kmeans_centroids(emb, k=16, iters=3).items()):
        row = [x / KM_SCALE for x in cv]
        nrm = sum(x * x for x in row) ** 0.5 or 1.0
        trained.append([x / nrm for x in row])
    out = {}
    for name, df in (
        ("ann_topk", ann_topk(emb, query_ids=qids, k=k)),
        ("ivf_topk", ivf_topk(emb, query_ids=qids, k=k)),
        # the recall/cost dial, measured: double the probed cells
        ("ivf_topk_probe8", ivf_topk(emb, query_ids=qids, k=k, n_probe=8)),
        # and the trained-codebook gain at the same probe cost
        (
            "ivf_topk_trained",
            ivf_topk(emb, query_ids=qids, k=k, centroids=trained),
        ),
    ):
        got = _sets(df)
        hits = sum(len(truth[q] & got[q]) for q in qids)
        out[f"{name}@{k}"] = round(hits / denom, 3)
    return out


def scaling_level(cores: int, path: str) -> float:
    """One scaling level, meant to run in a FRESH process (see
    run_scaling): warm-up pass (JVM codegen + Python worker import
    storm), then best-of-3 steady-state — what a long-running 100 TB
    job sees; best-of-N guards against stray GC pauses."""
    from ocr_pipeline_spark.operators.extraction import extract_pages
    from ocr_pipeline_spark.session import get_spark

    spark = get_spark(f"bench-scaling-{cores}", cores=cores, extra_conf=QUIET)
    pages = spark.read.parquet(path)
    _force(extract_pages(pages))
    dt = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        _force(extract_pages(pages))
        dt = min(dt, time.monotonic() - t0)
    spark.stop()
    return dt


def run_scaling(n_small: int, sf: float, n_pages: int | None) -> dict:
    n_big = 4 * n_small
    if n_pages is None:
        # 128× the headline corpus (512k pages at sf0.1): fixed costs
        # (JVM task dispatch, Python worker spin-up) must amortize or
        # the efficiency number measures overhead, not the job. Raised
        # 32×→128× in r5: the cumulative kernel speedups had shrunk the
        # 16-core wall at 128k pages to ~8 s, of which ~3 s is fixed
        # per-job cost — the r4 512k-page adjudication, now the default
        n_pages = 128 * _pages_path(sf)[1]
    results = {}
    # 8 input files per big-level core: the timed job is a pure narrow
    # scan→map (the 100 TB shape — input pre-bucketed, no shuffle), so
    # scan parallelism must not cap below the core count, and tasks must
    # stay small enough (~500 pages) that waves balance — measured: 2000-
    # page tasks cost ~20% throughput to tail imbalance at 16 cores
    n_files = 8 * n_big
    path = f"/tmp/bench_pages_n{n_pages}_f{n_files}"
    # each phase (generation AND each level) runs in its OWN subprocess
    # — the real-cluster analogue (one spark-submit per cluster size),
    # and a correctness requirement on one box: a second SparkSession
    # in the same Python process reuses the first session's JVM, and
    # the big level then ran a measured, reproducible ~1.5× slower than
    # in a fresh process (31-36 s vs 20-23 s at 16 cores / 512k pages)
    # — the in-process sequence was understating efficiency by ~2×.
    # Generation is also subprocessed so its multi-GB JVM is gone (not
    # merely stopped) before the timed levels run — first-run numbers
    # stay comparable to cached-dataset reruns.
    # Child stderr is NOT captured: Spark logs stream through, so a
    # failing level leaves its real traceback on the console instead of
    # a bare CalledProcessError.
    import subprocess

    def _child(argv: list[str]) -> str:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *argv],
            stdout=subprocess.PIPE,
            text=True,
            check=True,
        )
        out = proc.stdout.strip()
        if not out:
            raise RuntimeError(
                f"scaling child {argv} exited 0 without output"
            )
        return out.splitlines()[-1]

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _child(
            [
                "--scaling-gen",
                "--pages-path", path,
                "--n-pages", str(n_pages),
                "--n-files", str(n_files),
            ]
        )
    for cores in (n_small, n_big):
        results[cores] = float(
            _child(["--scaling-level", str(cores), "--pages-path", path])
        )
    eff = (results[n_small] / results[n_big]) / 4.0
    return {
        "metric": "extraction scaling efficiency N->4N cores",
        "value": round(eff, 3),
        "unit": "efficiency",
        "n_pages": n_pages,
        "cores_small": n_small,
        "cores_big": n_big,
        "sec_small": round(results[n_small], 2),
        "sec_big": round(results[n_big], 2),
        "docs_per_sec_small": round(n_pages / results[n_small], 1),
        "docs_per_sec_big": round(n_pages / results[n_big], 1),
        "sf": sf,
    }


def emit(out: dict, path: str = RESULT_FILE) -> None:
    """Write the full result to ``path``; end stdout with its headline."""
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    head = {k: out[k] for k in ("value", "unit", "metric")}
    print(json.dumps({**head, "full": os.path.basename(path)}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    # N=4 vs 4N=16: at the big level 16 task threads + 16 Python workers
    # fit a 32-vCPU box — the honest analogue of N vs 4N executors on
    # real nodes, where JVM:python core ratio is constant. On a smaller
    # box the big level is oversubscribed and scaling is understated
    # (local[8] vs local[32] does the same to a 32-vCPU box).
    ap.add_argument("--n-small", type=int, default=4)
    ap.add_argument("--n-pages", type=int, default=None)
    # internal: one scaling phase in a fresh process (see run_scaling)
    ap.add_argument("--scaling-level", type=int, default=None)
    ap.add_argument("--scaling-gen", action="store_true")
    ap.add_argument("--pages-path", type=str, default=None)
    ap.add_argument("--n-files", type=int, default=None)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if args.scaling_gen:
        from ocr_pipeline_spark.session import get_spark
        from ocr_pipeline_spark.sources.synth_pages import (
            write_pages_parquet,
        )

        spark = get_spark("bench-scaling-gen", cores=8, extra_conf=QUIET)
        write_pages_parquet(
            spark, args.pages_path, args.n_pages,
            chunk=max(1, args.n_pages // args.n_files),
        )
        spark.stop()
        print("generated")
        return
    if args.scaling_level is not None:
        print(scaling_level(args.scaling_level, args.pages_path))
        return
    if args.scaling:
        out = run_scaling(args.n_small, _sf_of(sf_dir), args.n_pages)
    else:
        out = run_headline(sf_dir, cores)
    emit(out)


if __name__ == "__main__":
    main()
