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


# -- bounded operator scan ---------------------------------------------------

# the operator regex before its operands were anchored to the start of a
# digit run: the oracle the anchored one must equal
_OP_ORACLE_RE = re.compile(
    r"(?P<a>-?\d+(?:\.\d+)?)\s+(?P<b>-?\d+(?:\.\d+)?)\s+(?P<op>Td|TD)"
    r"|\((?P<str>(?:[^()\\]|\\.)*)\)\s*Tj"
)
# the anchored regex, before its finditer became a loop that skips dead
# string starts: the oracle for strings that escape and stop short
_OP_ANCHORED_RE = re.compile(
    r"(?P<a>-?(?<!\d)\d+(?:\.\d+)?)\s+(?P<b>-?\d+(?:\.\d+)?)\s+(?P<op>Td|TD)"
    r"|\((?P<str>(?:[^()\\]|\\.)*)\)\s*Tj"
)


def _finditer_ops(regex, body):
    return [
        (m.start(), m.end(), m["a"], m["b"], m["op"], m["str"])
        for m in regex.finditer(body)
    ]


def _parse_with(regex, data):
    real = pdfkit._ops
    pdfkit._ops = lambda body: iter(_finditer_ops(regex, body))
    try:
        return parse_pdf_blocks(data)
    finally:
        pdfkit._ops = real


_op_tokens = st.lists(
    st.sampled_from(
        ["1", "12", "0", "-", ".", "-3", "1.5", ".5", " ", "\n", "\t", "Td",
         "TD", "Tj", "T", "d", "(", ")", "\\", "x", "(hi)", "BT", "ET",
         "0 -30 Td", "1.5.5 2 Td", ".12-3 1\nTD", "(a) Tj"]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(_op_tokens)
def test_op_scan_equals_unanchored_regex(body):
    assert list(pdfkit._ops(body)) == _finditer_ops(_OP_ORACLE_RE, body)


@settings(max_examples=200, deadline=None)
@given(_op_tokens)
def test_parse_pdf_blocks_equals_unanchored_regex(body):
    data = ("%PDF-1.4\nBT " + body + " ET").encode("latin-1")
    assert parse_pdf_blocks(data) == _parse_with(_OP_ORACLE_RE, data)


def test_digit_run_parses_in_linear_time():
    """Every position of a digit run inside one text object used to
    restart the operand match: 16 000 digits took about 10 s."""
    data = b"%PDF-1.4\nBT " + b"1" * (1 << 20) + b" ET"  # 1 MiB
    t0 = time.monotonic()
    assert parse_pdf_blocks(data) == []
    assert time.monotonic() - t0 < 1.0


# strings that escape, nest and stop short, with Td ops inside them
_str_tokens = st.lists(
    st.sampled_from(
        ["(", ")", "\\", "\\(", "\\)", "\\\\", "\\\n", "a", " ", "\n", "Tj",
         ") Tj", ")Tj", "(a\\", "1 2 Td", "-3", "4", " TD", "(x) Tj"]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=400, deadline=None)
@given(_str_tokens)
def test_string_scan_equals_anchored_regex(body):
    assert list(pdfkit._ops(body)) == _finditer_ops(_OP_ANCHORED_RE, body)
    data = ("%PDF-1.4\nBT " + body + " ET").encode("latin-1")
    assert parse_pdf_blocks(data) == _parse_with(_OP_ANCHORED_RE, data)


def test_unclosed_strings_parse_in_linear_time():
    """Every ``(`` of a repeated ``(a\\`` used to rescan to the end of the
    text object: 24 KB took about 4 s."""
    data = b"%PDF-1.4\nBT " + b"(a\\" * 350_000 + b" ET"  # 1 MiB
    t0 = time.monotonic()
    assert parse_pdf_blocks(data) == []
    assert time.monotonic() - t0 < 1.0
