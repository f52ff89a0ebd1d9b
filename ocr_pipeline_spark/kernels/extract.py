"""Fused per-document extraction kernel: payload bytes → extracted text.

This is the web-text analogue of the reference's whole /ocr lifecycle for
one document (pipeline/app.py:157-207): decode → detect regions → recognize
→ reassemble — fused into one pure function so the page payload is decoded
exactly once (the reference decodes base64 in all three services,
SURVEY.md §2.1 S3; here the anti-pattern is removed by construction).

The error-column pattern replaces the reference's failure rows
(str-recognition/api.py:217-224): malformed payloads yield
``ExtractResult(error=..., text="")`` instead of raising, so one bad page
never kills an Arrow batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .classify import classify_blocks
from .htmlkit import Block, decode_payload, segment_html
from .materialize import materialize_text, sha256_text
from .pdfkit import parse_pdf_blocks

__all__ = ["ExtractResult", "extract_document"]


@dataclass
class ExtractResult:
    """Analogue of OCRResponse (common/schema/base.py:5-11)."""

    text: str = ""
    text_sha256: str = ""
    n_blocks: int = 0
    blocks: list[Block] = field(default_factory=list)
    flags: list[bool] = field(default_factory=list)
    kind: str = "html"          # html | pdf
    charset: str = "utf-8"
    error: str | None = None


#: Payload cap (Common-Crawl semantics: WARC truncates records at a fixed
#: limit; 4 MiB > CC's 1 MiB). Bounds worst-case memory of one Arrow batch:
#: 128 rows × 4 MiB = 512 MiB ceiling per in-flight batch per worker.
DEFAULT_MAX_PAYLOAD_BYTES = 4 << 20


def extract_document(payload: bytes | None) -> ExtractResult:
    """bytes → ExtractResult. Total function: never raises.

    Payloads over ``DEFAULT_MAX_PAYLOAD_BYTES`` are truncated
    (deterministic prefix — the same contract WARC applies at capture
    time), so a pathological page can never blow a worker."""
    if payload is None or len(payload) == 0:
        return ExtractResult(error="empty payload", text_sha256=sha256_text(""))
    if len(payload) > DEFAULT_MAX_PAYLOAD_BYTES:
        payload = payload[:DEFAULT_MAX_PAYLOAD_BYTES]
    try:
        if payload[:5] == b"%PDF-":
            blocks = parse_pdf_blocks(payload)
            kind, charset = "pdf", "latin-1"
            if not blocks:
                return ExtractResult(
                    kind="pdf",
                    error="pdf: no text runs",
                    text_sha256=sha256_text(""),
                )
        else:
            doc, charset = decode_payload(payload)
            blocks = segment_html(doc)
            kind = "html"
        flags = classify_blocks(blocks)
        text = materialize_text(blocks, flags)
        return ExtractResult(
            text=text,
            text_sha256=sha256_text(text),
            n_blocks=len(blocks),
            blocks=blocks,
            flags=flags,
            kind=kind,
            charset=charset,
        )
    except Exception as exc:  # noqa: BLE001 — error-column pattern
        return ExtractResult(
            error=f"{type(exc).__name__}: {exc}", text_sha256=sha256_text("")
        )
