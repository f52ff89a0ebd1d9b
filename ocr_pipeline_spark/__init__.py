"""ocr_pipeline_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of watanka/ocr-pipeline
(document → text-region → text extraction) as an idiomatic Spark job over
Common-Crawl-style page tables:

- the reference's *detection* stage (CRAFT text-region detector,
  std-detection/) becomes DOM/layout block segmentation: a self-contained
  regex scanner with text-density + link-density boilerplate scoring for
  HTML payloads and a char→line→block bounding-box clustering pass for
  PDF payloads;
- the reference's *recognition* stage (TPS-ResNet-BiLSTM-Attn,
  str-recognition/) becomes block classification + deterministic text
  materialization;
- the reference's cross-document batching buckets (message_queue/) are
  subsumed by Arrow record batches inside ``mapInPandas`` — zero per-row
  Python anywhere in the hot path.

Layout:
  kernels/     pure-Python, Spark-free extraction kernels (also the golden
               oracle used by the pytest byte-identity suite)
  sources/     deterministic synthetic pages-table generator (seeded) and
               WARC ingestion
  operators/   Spark DataFrame operators: extraction, lineage manifests +
               resume, dedup, similarity, text stats (plus an off-path
               hot-domain diagnostic)
  plans/       end-to-end job assembly (scan → hash(url) → extract → sink)
  streaming/   micro-batch trigger analogue of the reference's buckets
"""

__version__ = "0.1.0"

EXTRACTOR_VERSION = 1
"""Bump whenever kernel semantics change — golden fixtures are pinned to it."""
