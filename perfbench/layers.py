"""Per-layer passes of the traced run.

Each pass calls one layer's public functions from outside, inside a
span, and returns that layer's metrics. Calls into Spark layers are
materialized with a ``noop`` or parquet write so the span covers the
work and not just plan construction.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from ocr_pipeline_spark.kernels.classify import classify_blocks
from ocr_pipeline_spark.kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES, extract_document
from ocr_pipeline_spark.kernels.htmlkit import decode_payload, segment_html
from ocr_pipeline_spark.kernels.materialize import materialize_text, sha256_text
from ocr_pipeline_spark.kernels.pdfkit import parse_pdf_blocks
from ocr_pipeline_spark.operators.dedup import (
    dup_clusters,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
)
from ocr_pipeline_spark.operators.extraction import extract_pages
from ocr_pipeline_spark.operators.lineage import (
    committed_buckets,
    pending,
    with_bucket,
    write_extracted_with_manifest,
)
from ocr_pipeline_spark.operators.metrics import StageMetrics
from ocr_pipeline_spark.operators.partitioning import find_hot_domains, salted_repartition
from ocr_pipeline_spark.operators.textstats import annotate_quality

from observe import Spans, max_over_median

KERNEL_STEPS = ("decode_payload", "segment_html", "parse_pdf_blocks",
                "classify_blocks", "materialize_text", "sha256_text")
ERROR_CLASSES = ("empty", "pdf_no_text", "exception")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _timed(spans: Spans, name: str, fn, repeat: int) -> float:
    """Median seconds of ``repeat`` spans around ``fn()``."""
    secs = []
    for _ in range(repeat):
        with spans.span(name) as s:
            fn()
        secs.append(s["secs"])
    return statistics.median(secs)


# ------------------------------------------------------------- kernels


def _layered(payload: bytes | None, t: dict[str, float]) -> str | None:
    """extract_document's steps called one by one, each timed into ``t``.
    Returns the error class, or None."""
    clock = time.perf_counter
    if payload is None or len(payload) == 0:
        t0 = clock()
        sha256_text("")
        t["sha256_text"] += clock() - t0
        return "empty"
    payload = payload[:DEFAULT_MAX_PAYLOAD_BYTES]
    try:
        if payload[:5] == b"%PDF-":
            t0 = clock()
            blocks = parse_pdf_blocks(payload)
            t["parse_pdf_blocks"] += clock() - t0
            if not blocks:
                t0 = clock()
                sha256_text("")
                t["sha256_text"] += clock() - t0
                return "pdf_no_text"
        else:
            t0 = clock()
            doc, _ = decode_payload(payload)
            t1 = clock()
            blocks = segment_html(doc)
            t2 = clock()
            t["decode_payload"] += t1 - t0
            t["segment_html"] += t2 - t1
        t0 = clock()
        flags = classify_blocks(blocks)
        t1 = clock()
        text = materialize_text(blocks, flags)
        t2 = clock()
        sha256_text(text)
        t3 = clock()
        t["classify_blocks"] += t1 - t0
        t["materialize_text"] += t2 - t1
        t["sha256_text"] += t3 - t2
        return None
    except Exception:  # noqa: BLE001 -- mirrors extract_document's error column
        return "exception"


def kernels_pass(rows: list[tuple[str, bytes]], spans: Spans) -> tuple[dict, dict]:
    """Single-process pass over the whole input: per-step seconds, the
    fused kernel's per-document times, error classes, and the full
    url -> (sha, error) reference. Steps and the fused call alternate
    order per document so cache warmth does not favour either side."""
    t = dict.fromkeys(KERNEL_STEPS, 0.0)
    errors = dict.fromkeys(ERROR_CLASSES, 0)
    doc_secs, reference = [], {}
    clock = time.perf_counter
    with spans.span("kernels.pass"):
        for i, (url, payload) in enumerate(rows):
            if i % 2:
                cls = _layered(payload, t)
            t0 = clock()
            r = extract_document(payload)
            doc_secs.append(clock() - t0)
            if not i % 2:
                cls = _layered(payload, t)
            reference[url] = (r.text_sha256, r.error)
            if cls is not None:
                errors[cls] += 1
    total = sum(doc_secs)
    mb = sum(len(p or b"") for _, p in rows) / 1e6
    ms = sorted(x * 1000 for x in doc_secs)
    m = {f"kernels.{k}_s": v for k, v in t.items()}
    m.update({
        "kernels.extract_document_s": total,
        "kernels.layer_sum_ratio": sum(t.values()) / total,
        "kernels.docs_per_core_s": len(rows) / total,
        "kernels.mb_per_core_s": mb / total,
        "kernels.doc_ms_p50": statistics.median(ms),
        "kernels.doc_ms_p99": ms[min(len(ms) - 1, int(0.99 * len(ms)))],
        "kernels.doc_ms_max": ms[-1],
    })
    m.update({f"kernels.errors.{k}": float(v) for k, v in errors.items()})
    return m, reference


# -------------------------------------------------- operators.extraction


def extraction_layer(spark, pages, spans: Spans, repeat: int = 2) -> dict:
    """Scan alone, the Arrow round trip alone, and the fused kernel, over
    the same (url, html) columns; the boundary share is the round trip's
    cost beyond the scan, as a share of the fused stage."""
    cols = pages.select("url", "html")

    def identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # nested, so it pickles by value: workers cannot import this module
        yield from batches

    scan = _timed(spans, "extraction.scan", lambda: _noop(cols), repeat)
    arrow = _timed(spans, "extraction.arrow_roundtrip",
                   lambda: _noop(cols.mapInPandas(identity, schema="url string, html binary")), repeat)
    kernel_cpu = []

    def run() -> None:
        sm = StageMetrics(spark, stages=("extract",))
        _noop(extract_pages(pages, metrics=sm))
        kernel_cpu.append(sm.report()["extract"]["kernel_cpu_secs"])

    fused = _timed(spans, "extraction.extract_pages", run, repeat)
    return {
        "extraction.scan_s": scan,
        "extraction.arrow_roundtrip_s": arrow,
        "extraction.extract_pages_s": fused,
        "extraction.kernel_cpu_s": statistics.median(kernel_cpu),
        "extraction.boundary_share": (arrow - scan) / fused,
    }


# --------------------------------- operators.partitioning + lineage


def partition_and_lineage_layers(spark, pages, manifest_path: str, work: str,
                                 n_buckets: int, spans: Spans) -> tuple[dict, dict]:
    """The job's steps one at a time, in its order: resume anti-join and
    bucket pre-pass, hot-domain pre-pass, salted repartition, then the
    bucket-partitioned write + manifest over a pre-materialized
    extraction. Returns (metrics, span windows for the event log)."""
    nparts = spark.sparkContext.defaultParallelism
    with spans.span("lineage.pending") as pend:
        todo = pending(with_bucket(pages, n_buckets), committed_buckets(spark, manifest_path))
        run_buckets = [r["bucket"] for r in todo.select("bucket").distinct().collect()]
    with spans.span("partitioning.find_hot_domains") as hot_span:
        hot = find_hot_domains(todo)
    balanced = salted_repartition(todo, nparts, hot)
    with spans.span("partitioning.salted_repartition") as s:
        _noop(balanced)
    windows = {"partitioning.salted_repartition": (s["start"], s["end"])}
    counts = [r["count"] for r in balanced.groupBy(F.spark_partition_id().alias("p")).count().collect()]
    counts += [0] * (nparts - len(counts))

    staged = os.path.join(work, "lineage-staged")
    with_bucket(extract_pages(balanced), n_buckets).write.mode("overwrite").parquet(staged)
    out = os.path.join(work, "lineage-out")
    man = os.path.join(work, "lineage-manifest")
    run_id = uuid.uuid4().hex
    extracted = spark.read.parquet(staged)
    with spans.span("lineage.write") as write:
        write_extracted_with_manifest(extracted, out, man, run_id, run_buckets=run_buckets)
    files = sum(
        1 for b in run_buckets
        for f in os.listdir(os.path.join(out, f"bucket={b}")) if f.endswith(".parquet")
    )
    manifest_rows = spark.read.parquet(man).filter(F.col("run_id") == run_id).count()
    return {
        "partitioning.find_hot_domains_s": hot_span["secs"],
        "partitioning.salted_repartition_s": s["secs"],
        "partitioning.task_rows_max_over_median": max_over_median(counts),
        "lineage.pending_s": pend["secs"],
        "lineage.write_s": write["secs"],
        "lineage.files_written": float(files),
        "lineage.manifest_rows": float(manifest_rows),
    }, windows


# ------------------------------------ textstats + dedup (curate_job)


def curate_layers(spark, docs, work: str, spans: Spans, threshold: float = 0.8) -> dict:
    """curate()'s minhash branch one step at a time. Each step is built
    and written to parquet inside its span (dup_clusters iterates at call
    time), and the next step reads it back."""
    m = {}

    def step(name: str, build, path: str):
        p = os.path.join(work, path)
        with spans.span(name) as s:
            build().write.mode("overwrite").parquet(p)
        m[name + "_s"] = s["secs"]
        return spark.read.parquet(p)

    kept = step("textstats.annotate_quality",
                lambda: annotate_quality(docs).filter(F.col("is_quality")), "kept")
    sigs = step("dedup.minhash_signatures", lambda: minhash_signatures(kept), "sigs")
    cand = step("dedup.lsh_candidate_pairs", lambda: lsh_candidate_pairs(sigs), "cand")
    pairs = step("dedup.jaccard_verify",
                 lambda: jaccard_verify(kept, cand).filter(F.col("jaccard") >= threshold), "pairs")
    clusters = step("dedup.dup_clusters", lambda: dup_clusters(pairs.select("doc_a", "doc_b")),
                    "clusters")
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    step("curate.write", lambda: kept.join(drops, "doc_id", "left_anti"), "final")
    n_cand, n_verified = cand.count(), pairs.count()
    m["dedup.candidate_pairs"] = float(n_cand)
    m["dedup.verified_pairs"] = float(n_verified)
    m["dedup.verify_yield"] = n_verified / n_cand if n_cand else 0.0
    return m
