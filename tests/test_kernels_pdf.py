"""Unit tests for the PDF layout kernel (SURVEY.md §2.7 K15)."""

from __future__ import annotations

import re
import time

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_pipeline_spark.kernels import pdfkit
from ocr_pipeline_spark.kernels.extract import extract_document
from ocr_pipeline_spark.kernels.pdfkit import build_pdf, parse_pdf_blocks


def test_roundtrip_paragraph_blocks():
    paras = [
        ["First paragraph line one.", "First paragraph line two."],
        ["Second paragraph only line."],
    ]
    blocks = parse_pdf_blocks(build_pdf(paras))
    assert [b.text for b in blocks] == [
        "First paragraph line one. First paragraph line two.",
        "Second paragraph only line.",
    ]
    assert [b.block_idx for b in blocks] == [0, 1]


def test_spans_point_at_string_bodies():
    data = build_pdf([["Alpha beta."], ["Gamma delta."]])
    doc = data.decode("latin-1")
    for b in parse_pdf_blocks(data):
        assert b.text.split()[0] in doc[b.span_start : b.span_end]


def test_escaped_parens():
    blocks = parse_pdf_blocks(build_pdf([["Paren (test) and \\ backslash."]]))
    assert blocks[0].text == "Paren (test) and \\ backslash."


def test_reading_order_top_to_bottom():
    data = build_pdf([["Top."], ["Middle."], ["Bottom."]])
    assert [b.text for b in parse_pdf_blocks(data)] == ["Top.", "Middle.", "Bottom."]


def test_pdf_dispatch_and_garbage():
    r = extract_document(build_pdf([["Real pdf content line here."]]))
    assert r.kind == "pdf" and r.error is None
    assert "Real pdf content line here." in r.text

    bad = extract_document(b"%PDF-1.4\ngarbage\n%%EOF")
    assert bad.kind == "pdf" and bad.error is not None


# -- bounded text-object scan ----------------------------------------------

# the unbounded scan the bounded one replaced: the oracle it must equal
_ORACLE_RE = re.compile(r"BT(.*?)ET", re.S)

_pdf_tokens = st.lists(
    st.sampled_from(
        ["BT", "ET", "B", "T", "E", " ", "\n", "x", "(", ")", "\\", "Tj",
         "Td", "TD", "12", "-3.5", "/F1", "BET", "BTET", "ETB",
         "(hi) Tj", "(a\\)b) Tj", "0 -30 Td", "72 700 Td"]
    ),
    max_size=60,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(_pdf_tokens)
def test_text_objects_equal_unbounded_scan(doc):
    got = [(m.span(), m.group(1)) for m in pdfkit._text_objects(doc)]
    want = [(m.span(), m.group(1)) for m in _ORACLE_RE.finditer(doc)]
    assert got == want


@settings(max_examples=200, deadline=None)
@given(_pdf_tokens)
def test_parse_pdf_blocks_equals_unbounded_scan(doc):
    data = ("%PDF-1.4\n" + doc).encode("latin-1")
    got = parse_pdf_blocks(data)
    real = pdfkit._text_objects
    pdfkit._text_objects = _ORACLE_RE.finditer
    try:
        want = parse_pdf_blocks(data)
    finally:
        pdfkit._text_objects = real
    assert got == want


def test_unclosed_text_objects_parse_in_linear_time():
    """Every BT with no ET after it used to rescan to the end of the
    document: 40 KB of them took seconds, 1 MB would take hours."""
    for tail in (b"", b"ET"):
        data = b"%PDF-1.4\n" + b"BT x " * 200_000 + tail  # 1 MB
        t0 = time.monotonic()
        r = extract_document(data)
        assert time.monotonic() - t0 < 1.0
        assert r.kind == "pdf" and r.error is not None
