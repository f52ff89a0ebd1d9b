"""Unit tests for the HTML segmentation kernel (SURVEY.md §5 item 2)."""

from __future__ import annotations

from ocr_pipeline_spark.kernels.classify import classify_blocks
from ocr_pipeline_spark.kernels.extract import extract_document
from ocr_pipeline_spark.kernels.htmlkit import decode_payload, segment_html
from ocr_pipeline_spark.kernels.materialize import materialize_text


def test_spans_index_into_document():
    doc = "<html><body><p>Hello world</p><p>  padded  </p></body></html>"
    blocks = segment_html(doc)
    assert [b.text for b in blocks] == ["Hello world", "padded"]
    for b in blocks:
        assert doc[b.span_start : b.span_end].strip() == b.text


def test_entities_unescaped_with_exact_spans():
    doc = "<p>A &amp; B &#x43;</p>"
    (b,) = segment_html(doc)
    assert b.text == "A & B C"
    assert doc[b.span_start : b.span_end] == "A &amp; B &#x43;"


def test_script_style_excluded():
    doc = "<body><script>var x='<p>no</p>';</script><style>p{}</style><p>yes text here</p></body>"
    blocks = segment_html(doc)
    assert [b.text for b in blocks] == ["yes text here"]


def test_link_density():
    doc = '<p>plain words here <a href="/x">linked text</a></p>'
    (b,) = segment_html(doc)
    assert b.n_link_chars == len("linked text")
    assert 0 < b.link_density < 1


def test_block_order_is_source_order():
    doc = "<div><p>first</p><p>second</p><p>third</p></div>"
    blocks = segment_html(doc)
    assert [b.block_idx for b in blocks] == [0, 1, 2]
    assert [b.text for b in blocks] == ["first", "second", "third"]
    assert all(
        blocks[i].span_start < blocks[i + 1].span_start
        for i in range(len(blocks) - 1)
    )


def test_classification_rules():
    doc = (
        "<body><nav><a href='/'>navigation link list item</a></nav>"
        "<p>short</p>"
        "<p>This is a long enough content paragraph that should be kept as content.</p>"
        "<footer><p>Copyright two thousand twenty four example corporation</p></footer></body>"
    )
    blocks = segment_html(doc)
    flags = classify_blocks(blocks)
    kept = [b.text for b, f in zip(blocks, flags) if f]
    assert kept == [
        "This is a long enough content paragraph that should be kept as content."
    ]


def test_smoothing_promotes_sandwiched_block():
    long = "word " * 30
    doc = (
        f"<body><p>{long}</p>"
        f"<p>short middle <b>a</b><b>b</b><b>c</b><b>d</b></p>"  # density < 8
        f"<p>{long}</p></body>"
    )
    blocks = segment_html(doc)
    flags = classify_blocks(blocks)
    assert flags == [True, True, True]


def test_charset_sniff_latin1():
    payload = '<meta charset="iso-8859-1"><p>caf\xe9 ok block text</p>'.encode(
        "iso-8859-1"
    )
    doc, charset = decode_payload(payload)
    assert charset == "iso-8859-1"
    assert "café" in doc


def test_malformed_never_raises():
    for payload in [b"", b"<p>unclosed", b"\xff\xfe\x00garbage", b"<></><p></p>",
                    b"%PDF-1.4 nonsense", b"a" * 10]:
        r = extract_document(payload)
        assert r.error is None or isinstance(r.error, str)
        assert isinstance(r.text, str)


def test_materialize_deterministic_separator():
    doc = "<body><p>one one one one one</p><p>two two two two two</p></body>"
    blocks = segment_html(doc)
    text = materialize_text(blocks, [True, True])
    assert text == "one one one one one\n\ntwo two two two two"


def test_payload_cap_truncates_deterministically():
    from ocr_pipeline_spark.kernels.extract import (
        DEFAULT_MAX_PAYLOAD_BYTES as CAP,
        extract_document,
    )

    para = b"<p>" + b"word " * 2000 + b"</p>"
    big = para * (CAP // len(para) + 2)
    assert len(big) > CAP
    a = extract_document(big)
    b = extract_document(big[:CAP])
    assert a.text == b.text and a.text_sha256 == b.text_sha256
    # the cut dropped whole paragraphs of the payload
    assert a.text.count("word") < big.count(b"word") - 2000


def test_unquoted_attr_trailing_slash_not_selfclosing():
    # <a href=https://x.com/> is an OPEN anchor (slash belongs to the
    # unquoted value), so the link text must count as link chars
    doc = '<p><a href=https://x.com/>nav link here</a> trailing words</p>'
    (b,) = segment_html(doc)
    assert b.n_link_chars == len("nav link here")
    # explicit self-closing forms still work: <br/> (block tag) splits,
    # <img/> (inline void) counts as an in-block tag
    doc2 = '<p>one<br/>two<img src="x"/>three</p>'
    blocks = segment_html(doc2)
    assert [b.text for b in blocks] == ["one", "twothree"]
    assert blocks[1].n_tags == 1  # the <img/>


def test_semicolonless_named_entity_decoded():
    (b,) = segment_html("<p>foo&nbsp bar&amp; baz</p>")
    assert b.text == "foo  bar& baz".replace("  ", "") or "&nbsp" not in b.text
    # numeric refs still require the semicolon
    (b2,) = segment_html("<p>x &#65 y</p>")
    assert "&#65" in b2.text
