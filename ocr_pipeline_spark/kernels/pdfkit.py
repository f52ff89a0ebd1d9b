"""Minimal PDF text-layout extraction (pure Python, stdlib only).

The pdfminer-style layout pass the north rule adds on top of the reference
(SURVEY.md §2.7 K15): positioned text runs → lines (y-clustering) → blocks
(vertical-gap clustering) → reading order. This mirrors the reference's
pixel pipeline shape exactly — connected components over proximity
(std-detection/craft_utils.py:28-34), minAreaRect boxes (craft_utils.py:63),
clockwise reading order (craft_utils.py:72-74) — re-expressed over PDF
text-run coordinates.

Scope: uncompressed content streams with BT/ET text objects using
Tf/Td/TD/Tm positioning and Tj string-show — the subset emitted by
``build_pdf`` (the deterministic synthesizer used by tests/bench; the
container has no image/PDF libraries, so richer codecs are out of scope,
but the plumbing — bytes in, offset-addressed blocks out — is real).

Span offsets index into the latin-1 decoding of the PDF bytes (1:1
byte↔char, lossless), pointing at the literal string body of the first/last
run of each block.
"""

from __future__ import annotations

import re

from .htmlkit import Block

__all__ = ["build_pdf", "parse_pdf_blocks", "LINE_Y_TOLERANCE", "BLOCK_GAP"]

LINE_Y_TOLERANCE = 2.0   # runs within this |Δy| share a line
BLOCK_GAP = 18.0         # vertical gap between lines that splits blocks
_LEADING = 14            # synthetic line leading (points)

_TEXTOBJ_RE = re.compile(r"BT(.*?)ET", re.S)
# the move operator "a b Td". (?<!\d): an operand never starts inside
# a digit run. Where the whole run fails to start a match, no suffix of
# it can, so this only skips the retries that made a long run quadratic.
# It sits after the sign: the "-3" of "12-3 1 Td" still matches.
_TD_RE = re.compile(r"(-?(?<!\d)\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s+(Td|TD)")
# the show operator "(str) Tj": the string is scanned possessively (it
# cannot end inside an escape, so backtracking finds no other end); no
# DOTALL: a backslash before a newline escapes nothing
_STR_SCAN_RE = re.compile(r"\((?:[^()\\]+|\\.)*+")
_STR_END_RE = re.compile(r"\)\s*Tj")
# where an operator can start: a sign or a digit-run start (a move), "("
_TD_START_RE = re.compile(r"-|(?<!\d)\d")
_OP_START_RE = re.compile(r"\(|" + _TD_START_RE.pattern)
_ESCAPES = {"\\(": "(", "\\)": ")", "\\\\": "\\", "\\n": "\n", "\\r": "\r", "\\t": "\t"}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        two = s[i : i + 2]
        if two in _ESCAPES:
            out.append(_ESCAPES[two])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def build_pdf(paragraphs: list[list[str]]) -> bytes:
    """Deterministic single-page mini-PDF: one Tj per line, paragraphs
    separated by an extra leading gap (> BLOCK_GAP), lines _LEADING apart."""
    ops = []
    y = 760
    for para in paragraphs:
        for line in para:
            ops.append(f"BT /F1 12 Tf 72 {y} Td ({_escape(line)}) Tj ET")
            y -= _LEADING
        y -= _LEADING  # paragraph gap: 2*_LEADING = 28 > BLOCK_GAP
    stream = "\n".join(ops).encode("latin-1", "replace")
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj",
        b"4 0 obj << /Length %d >> stream\n%s\nendstream endobj"
        % (len(stream), stream),
        b"5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj",
    ]
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF\n"


def _text_objects(doc: str):
    """``BT ... ET`` matches, in order. The scan stops at the last ``ET``:
    every ``BT`` before it matches there or earlier, and one after it has
    no ``ET`` to match, so no search runs to the end of the document once
    per unclosed ``BT`` (which made the scan quadratic)."""
    end = doc.rfind("ET")
    return _TEXTOBJ_RE.finditer(doc, 0, end + 2) if end >= 0 else iter(())


def _ops(body: str):
    """``(start, end, a, b, op, str)`` for each ``a b Td``/``TD`` move
    and ``(str) Tj`` show in a text-object body: the matches of a
    leftmost-first ``finditer`` over the two operators. A string scan that
    finds no ``) Tj`` at its end kills every ``(`` it passed: each one
    sat inside an escape, so a scan from it would stop at the same end.
    Without that, ``(a\\`` repeated rescans to the end of the object
    from every ``(``. A ``Td`` inside such a string still matches."""
    pos = dead = 0  # no "(" before ``dead`` starts a match
    while True:
        if pos < dead:
            c = _TD_START_RE.search(body, pos, dead) or _OP_START_RE.search(body, dead)
        else:
            c = _OP_START_RE.search(body, pos)
        if c is None:
            return
        p = c.start()
        if body[p] != "(":
            m = _TD_RE.match(body, p)
            if m:
                pos = m.end()
                yield p, pos, m[1], m[2], m[3], None
                continue
        else:
            e = _STR_SCAN_RE.match(body, p).end()
            t = _STR_END_RE.match(body, e)
            if t:
                pos = t.end()
                yield p, pos, None, None, None, body[p + 1 : e]
                continue
            dead = e
        pos = p + 1


def parse_pdf_blocks(data: bytes) -> list[Block]:
    """PDF bytes → ordered Blocks (reading order: top→bottom, left→right)."""
    doc = data.decode("latin-1")
    runs = []  # (x, y, text, span_start, span_end)
    for tobj in _text_objects(doc):
        x = y = 0.0
        base = tobj.start(1)
        for start, _, a, b, op, body in _ops(tobj.group(1)):
            if op:
                # Td/TD are relative moves in our subset (each BT resets)
                x += float(a)
                y += float(b)
            else:
                text = _unescape(body)
                if text.strip():
                    s0 = base + start + 1  # the string body, past "("
                    runs.append((x, y, text, s0, s0 + len(body)))
    if not runs:
        return []

    # runs → lines: cluster by y (minAreaRect analogue, craft_utils.py:63)
    runs.sort(key=lambda r: (-r[1], r[0], r[3]))
    lines: list[list[tuple]] = []
    for r in runs:
        if lines and abs(lines[-1][0][1] - r[1]) <= LINE_Y_TOLERANCE:
            lines[-1].append(r)
        else:
            lines.append([r])
    for ln in lines:
        ln.sort(key=lambda r: (r[0], r[3]))  # reading order within line

    # lines → blocks: split on vertical gaps (component merge analogue)
    blocks: list[Block] = []
    groups: list[list[list[tuple]]] = []
    for ln in lines:
        if groups and (groups[-1][-1][0][1] - ln[0][1]) <= BLOCK_GAP:
            groups[-1].append(ln)
        else:
            groups.append([ln])
    for gi, group in enumerate(groups):
        text = " ".join(
            " ".join(r[2] for r in ln) for ln in group
        )
        text = " ".join(text.split())
        if not text:
            continue
        span_start = min(r[3] for ln in group for r in ln)
        span_end = max(r[4] for ln in group for r in ln)
        n = len(text)
        blocks.append(
            Block(
                block_idx=len(blocks),
                span_start=span_start,
                span_end=span_end,
                text=text,
                n_chars=n,
                n_link_chars=0,
                n_tags=0,
                tag_path="pdf/block",
                text_density=float(n),
                link_density=0.0,
            )
        )
    return blocks
