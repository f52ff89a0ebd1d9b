"""Spark extraction operators: pages table → extracted text / block rows.

Two packagings of the same kernels (ocr_pipeline_spark.kernels — identical
code runs in the pytest oracle, so outputs are byte-identical by
construction):

1. ``extract_pages``  — the fused hot path (SURVEY.md §3.3 rebuild
   lifecycle): one ``mapInPandas`` pass, doc → final text, no block-level
   shuffle at all. The page payload is decoded exactly once and never
   crosses an exchange. This is what runs at 100 TB.

2. ``segment_pages`` + posexplode — the relational form (SURVEY.md §2
   A1/J3/P1/P2/O1): blocks become real rows so filters, regroup, and
   windowed order checks are ordinary Catalyst operators. Used when block
   rows themselves are the product, and by the parity test proving
   explode → filter → regroup → array_join ≡ the fused text.

Batching note: the reference accumulated regions across documents in
hand-written buckets to amortize fixed per-call cost (message_queue/,
README.md:93-105, ~56% saving). Here the Arrow record batch *is* the
bucket: ``spark.sql.execution.arrow.maxRecordsPerBatch`` plays the role of
the 350-region GPU cap, and there is no monitor loop to race (the
get_batch/clear race at message_queue/monitor.py:50-56 has no analogue).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES, extract_document
from ..kernels.htmlkit import decode_payload
from ..kernels.materialize import BLOCK_SEPARATOR
from ..kernels.overlay import render_overlay
from ..kernels.refine import refine_sentences

__all__ = [
    "EXTRACTED_SCHEMA",
    "BLOCKS_SCHEMA",
    "extract_pages",
    "segment_pages",
    "explode_blocks",
    "regroup_blocks",
    "refine_sentence_spans",
    "debug_overlay_pages",
]

# Output of the fused path (FIXTURES.md §3 'extracted').
EXTRACTED_SCHEMA = (
    "url string, text string, text_sha256 string, n_blocks int, "
    "kind string, charset string, error string"
)

_BLOCK_STRUCT = (
    "block_idx int, span_start long, span_end long, n_chars int, "
    "n_link_chars int, n_tags int, tag_path string, text_density double, "
    "link_density double, is_content boolean, block_text string"
)

# Output of the segmentation (pre-explode) path: nested array-of-struct,
# the analogue of DetectionResponse.regions (common/schema/detection.py:24-31).
BLOCKS_SCHEMA = f"url string, error string, blocks array<struct<{_BLOCK_STRUCT}>>"


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    res = [extract_document(payload) for payload in pdf["html"]]
    return pd.DataFrame(
        {
            "url": pdf["url"].to_numpy(),
            "text": [r.text for r in res],
            "text_sha256": [r.text_sha256 for r in res],
            "n_blocks": pd.array([r.n_blocks for r in res], dtype="int32"),
            "kind": [r.kind for r in res],
            "charset": [r.charset for r in res],
            "error": [r.error for r in res],
        }
    )


def extract_pages(pages: DataFrame, metrics=None) -> DataFrame:
    """Fused doc→text extraction. Narrow (no shuffle): Catalyst prunes the
    scan to (url, html) and each input partition maps straight to output.

    ``metrics``: optional StageMetrics — per-batch (rows, kernel seconds)
    accumulate under stage 'extract' (north-rule docs/sec logging)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                t0 = time.monotonic()
                out = _extract_batch(pdf)
                if metrics is not None:
                    metrics.add("extract", len(pdf), time.monotonic() - t0)
                yield out

    return pages.select("url", "html").mapInPandas(fn, schema=EXTRACTED_SCHEMA)


def segment_pages(pages: DataFrame) -> DataFrame:
    """Doc → nested block rows (detection-stage output as a DataFrame)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            urls, errors, blocks_col = [], [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                r = extract_document(payload)
                urls.append(url)
                errors.append(r.error)
                blocks_col.append(
                    [
                        (
                            b.block_idx,
                            b.span_start,
                            b.span_end,
                            b.n_chars,
                            b.n_link_chars,
                            b.n_tags,
                            b.tag_path,
                            b.text_density,
                            b.link_density,
                            keep,
                            b.text,
                        )
                        for b, keep in zip(r.blocks, r.flags)
                    ]
                )
            yield pd.DataFrame(
                {"url": urls, "error": errors, "blocks": blocks_col}
            )

    return pages.select("url", "html").mapInPandas(fn, schema=BLOCKS_SCHEMA)


def explode_blocks(segmented: DataFrame) -> DataFrame:
    """Fan-out A1: one row per block via posexplode (the reference minted
    string keys ``f"{request_id}_{i}"``, std-detection/api.py:108 — here
    (url, block_idx) are real columns; posexplode's pos is only a
    cross-check of kernel-assigned block_idx)."""
    return (
        segmented.filter(F.col("error").isNull())
        .select("url", F.posexplode("blocks").alias("pos", "b"))
        .select("url", "pos", "b.*")
    )


def regroup_blocks(blocks: DataFrame) -> DataFrame:
    """Fan-in J3: kept blocks → per-url text, order restored by sorting the
    collected (block_idx, text) structs (order invariant O1 — the reference
    forces recognition output order, str-recognition/processor.py:135-138).
    sort_array on array<struct> orders by the first field, block_idx.
    Blocks join with the fused path's ``BLOCK_SEPARATOR``."""
    return (
        blocks.filter(F.col("is_content"))
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("block_idx", "block_text"))
                    ),
                    lambda s: s["block_text"],
                ),
                BLOCK_SEPARATOR,
            ).alias("text"),
            F.count(F.lit(1)).alias("n_content_blocks"),
        )
    )


def refine_sentence_spans(blocks: DataFrame) -> DataFrame:
    """K5 analogue: kept blocks → per-sentence sub-span rows
    (kernels/refine.py is the spec; see its docstring for the reference
    citation and the offsets-are-block-relative contract).

    Narrow Arrow-batched pass over ``explode_blocks`` output — fan-out
    only, no shuffle; block text already crossed into rows upstream, so
    only the kept subset is re-scanned here."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, bidx, text, keep in zip(
                pdf["url"], pdf["block_idx"], pdf["block_text"], pdf["is_content"]
            ):
                if not keep:
                    continue
                for si, (s, e) in enumerate(refine_sentences(text)):
                    rows.append((url, int(bidx), si, s, e, text[s:e]))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "url",
                        "block_idx",
                        "sent_idx",
                        "sent_start",
                        "sent_end",
                        "sentence",
                    ],
                )

    return blocks.select(
        "url", "block_idx", "block_text", "is_content"
    ).mapInPandas(
        fn,
        schema=(
            "url string, block_idx int, sent_idx int, sent_start int, "
            "sent_end int, sentence string"
        ),
    )


def debug_overlay_pages(pages: DataFrame) -> DataFrame:
    """K14 analogue, DEV-ONLY (kernels/overlay.py is the spec): renders
    each HTML page with its block spans highlighted for visual QA. Whole
    documents cross into Python and the payload is decoded twice — never
    put this in a production plan; ``.limit()`` the input. PDF and
    undecodable pages yield an error row instead of an overlay."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            urls, overlays, errors = [], [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                r = extract_document(payload)
                urls.append(url)
                if r.error is not None:
                    overlays.append(None)
                    errors.append(r.error)
                elif r.kind != "html":
                    overlays.append(None)
                    errors.append("overlay: html documents only")
                else:
                    # same truncation contract as extract_document, so
                    # the spans index the same decoded string
                    doc, _ = decode_payload(
                        payload[:DEFAULT_MAX_PAYLOAD_BYTES]
                    )
                    overlays.append(render_overlay(doc, r.blocks, r.flags))
                    errors.append(None)
            yield pd.DataFrame(
                {"url": urls, "overlay": overlays, "error": errors}
            )

    return pages.select("url", "html").mapInPandas(
        fn, schema="url string, overlay string, error string"
    )
