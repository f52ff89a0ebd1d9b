"""Anchor-link harvesting over the pages table — the extraction
side-channel that feeds crawl frontiers and the page graph
(operators/graph.pagerank).

Reference analogy: the reference's per-region results
(pipeline/file_utils.py) carry the document's PAYLOAD content; links
are the web corpus's structural content — same scan, different column.

Scale shape: one mapInPandas pass over (url, html) — the Arrow-batched
codec path (extraction.extract_pages precedent; HTML decode + regex
scan are exactly the per-row Python the kernel exception covers). The
output rows are (src url, link_idx, href, resolved) SHORT strings; at
10^12 pages the link table is written bucketed by hash(src) like the
extraction output, and the page-graph edges derive from it with ids
hashed scan-locally (hashing.md5_int) so the PageRank joins move
bigints only.

Kernel-is-spec: kernels/linkkit.py computes the same values in the
pytest oracle and the driver's VALUES-based x_links check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES
from ..kernels.htmlkit import decode_payload
from ..kernels.linkkit import extract_links, resolve_href
from .hashing import md5_int

__all__ = ["link_rows", "page_edges"]

LINKS_SCHEMA = (
    "src string, link_idx int, href string, resolved string"
)


def link_rows(pages: DataFrame) -> DataFrame:
    """(src, link_idx, href, resolved) per anchor, source order;
    ``resolved`` is NULL for out-of-scope hrefs (fragments, mailto,
    protocol-relative — kernels/linkkit.resolve_href)."""

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            srcs, idxs, hrefs, ress = [], [], [], []
            for url, payload in zip(pdf["url"], pdf["html"]):
                if payload is None or len(payload) == 0:
                    continue
                if payload[:5] == b"%PDF-":
                    continue  # link harvesting is an HTML concern
                doc, _ = decode_payload(
                    bytes(payload)[:DEFAULT_MAX_PAYLOAD_BYTES]
                )
                for i, href in enumerate(extract_links(doc)):
                    srcs.append(url)
                    idxs.append(i)
                    hrefs.append(href)
                    ress.append(resolve_href(url, href))
            yield pd.DataFrame(
                {
                    "src": srcs,
                    "link_idx": pd.array(idxs, dtype="int32"),
                    "href": hrefs,
                    "resolved": ress,
                }
            )

    return pages.select("url", "html").mapInPandas(fn, schema=LINKS_SCHEMA)


def page_edges(pages: DataFrame) -> DataFrame:
    """(src, dst) bigint edge list for graph.pagerank: 48-bit md5 ids
    of source url and resolved target url, hashed scan-locally so the
    iteration joins never move url text."""
    rows = link_rows(pages).filter(F.col("resolved").isNotNull())
    return rows.select(
        md5_int(F.col("src")).alias("src"),
        md5_int(F.col("resolved")).alias("dst"),
    )
