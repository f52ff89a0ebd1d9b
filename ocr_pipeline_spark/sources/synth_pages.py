"""Deterministic Common-Crawl-style pages synthesizer (FIXTURES.md §1).

Schema (BASELINE.json input_hint):
    url: string, warc_ts: timestamp, html: binary, text: string, lang: string

Properties engineered in:
- ~20 domains; 3 "hot" domains hold ~45% of rows (skew fixture for the
  salting operator — the web analogue of the reference's uneven region
  counts per document, README.md:84-88);
- ~90% template HTML (header/nav/sidebar/footer boilerplate around 1–8
  content paragraphs with links sprinkled at varying link density),
  ~10% mini-PDF payloads (pdfkit.build_pdf);
- edge rows at fixed indices: empty bytes, truncated HTML, latin-1
  charset page, "%PDF" magic with garbage body;
- fully deterministic for (n, seed): ``random.Random`` only, no wall clock.

Analogue of the reference's load-test source (load_test.py:14,55-61) which
replays a fixed image corpus — here the corpus is synthesized at any scale.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

from ..kernels.pdfkit import build_pdf

__all__ = ["PAGES_SCHEMA", "synth_pages", "write_pages_parquet"]

# Spark DDL string — usable by spark.read.schema(...) and createDataFrame.
PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

_VOCAB = (
    "data spark table query shuffle partition column batch arrow vector "
    "stream window join filter scan index page crawl text block parse "
    "token cluster node executor driver stage task memory disk cache "
    "schema row value key hash sort merge broadcast salt skew lineage "
    "manifest snapshot commit resume golden fixture oracle kernel density"
).split()

_DOMAINS = [f"site{i:02d}.example" for i in range(20)]
_HOT = ["site00.example", "site01.example", "site02.example"]
_LANGS = ["en", "en", "en", "ko", "de", "ja", "unknown"]

_EPOCH = datetime(2024, 1, 1)


def _sentence(rng: random.Random, n_words: int) -> str:
    ws = [rng.choice(_VOCAB) for _ in range(n_words)]
    return (" ".join(ws)).capitalize() + "."


def _paragraph(rng: random.Random, link_density: float) -> str:
    parts = []
    for _ in range(rng.randint(2, 6)):
        s = _sentence(rng, rng.randint(6, 14))
        if rng.random() < link_density:
            word = rng.choice(_VOCAB)
            s += f' See <a href="/{word}">{word} {rng.choice(_VOCAB)}</a>.'
        parts.append(s)
    return " ".join(parts)


def _nav(rng: random.Random) -> str:
    items = "".join(
        f'<li><a href="/{w}">{w}</a></li>'
        for w in rng.sample(_VOCAB, 6)
    )
    return f"<nav><ul>{items}</ul></nav>"


def _html_page(rng: random.Random, domain: str, charset: str = "utf-8") -> bytes:
    title = _sentence(rng, rng.randint(3, 6))[:-1]
    meta = f'<meta charset="{charset}">' if charset != "utf-8" else ""
    paras = "".join(
        f"<p>{_paragraph(rng, rng.choice([0.0, 0.1, 0.3]))}</p>"
        for _ in range(rng.randint(1, 8))
    )
    sidebar_links = "".join(
        f'<div><a href="/{w}">{w} archive</a></div>' for w in rng.sample(_VOCAB, 5)
    )
    footer_note = _sentence(rng, 8)
    accent = " café résumé" if charset == "iso-8859-1" else ""
    doc = (
        f"<!DOCTYPE html><html><head>{meta}<title>{title}</title>"
        f"<style>body{{margin:0}}</style>"
        f'<script>var x = "<p>not text</p>";</script></head>'
        f"<body><header><h1>{domain}</h1>{_nav(rng)}</header>"
        f"<main><article><h2>{title}{accent}</h2>{paras}</article></main>"
        f"<aside>{sidebar_links}</aside>"
        f"<footer><p>© 2024 {domain} &amp; co. {footer_note}</p>{_nav(rng)}</footer>"
        f"</body></html>"
    )
    return doc.encode(charset, errors="replace")


def _pdf_page(rng: random.Random) -> bytes:
    paragraphs = [
        [_sentence(rng, rng.randint(4, 8)) for _ in range(rng.randint(1, 4))]
        for _ in range(rng.randint(1, 5))
    ]
    return build_pdf(paragraphs)


# Default corpus seed.
SYNTH_SEED = 42


def synth_pages(n: int, seed: int = SYNTH_SEED) -> pd.DataFrame:
    """n rows of the pages table, deterministic for (n, seed)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # skew: ~45% of rows on the 3 hot domains
        domain = rng.choice(_HOT) if rng.random() < 0.45 else rng.choice(_DOMAINS)
        url = f"https://{domain}/page/{i}"
        ts = _EPOCH + timedelta(seconds=rng.randint(0, 365 * 24 * 3600))
        lang = rng.choice(_LANGS)
        r = rng.random()
        if i % 97 == 13:
            html = b""  # empty payload edge
        elif i % 89 == 7:
            html = _html_page(rng, domain)[: rng.randint(40, 200)]  # truncated
        elif i % 83 == 11:
            html = b"%PDF-1.4\ngarbage body with no text objects\n%%EOF"
        elif i % 71 == 5:
            html = _html_page(rng, domain, charset="iso-8859-1")
        elif r < 0.10:
            html = _pdf_page(rng)
        else:
            html = _html_page(rng, domain)
        rows.append((url, ts, html, None, lang))
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang"]
    )


def write_pages_parquet(
    spark, path: str, n: int, seed: int = SYNTH_SEED, chunk: int = 2000
) -> None:
    """Materialize a synthetic pages table as parquet at ``path``.

    Generation happens distributed (one seed-derived chunk per partition) so
    the synthesizer itself scales; chunk seeds derive from (seed, chunk_id)
    so output is independent of parallelism. ``chunk`` also sets the output
    file count (n/chunk) — scan parallelism for downstream benchmarks.
    """
    bounds = [(seed + ci, lo, min(lo + chunk, n))
              for ci, lo in enumerate(range(0, n, chunk))]

    def gen(it):
        for cseed, lo, hi in it:
            df = synth_pages(hi - lo, seed=cseed)
            df["url"] = [
                u.rsplit("/", 1)[0] + f"/{lo + j}" for j, u in enumerate(df["url"])
            ]
            yield df

    sdf = (
        spark.createDataFrame(bounds, "cseed int, lo int, hi int")
        .repartition(max(1, len(bounds)))
        .mapInPandas(lambda it: gen(
            (r.cseed, r.lo, r.hi) for pdf in it for r in pdf.itertuples()
        ), schema=PAGES_SCHEMA)
    )
    sdf.write.mode("overwrite").parquet(path)
