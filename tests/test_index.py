"""Unit tests for the sharded inverted-index builder
(operators/index.py). Cross-engine value parity lives in test_entry.py
(ix_postings oracle); these pin the semantics on controlled text and
the losslessness of the sharding.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.index import term_postings

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat"),
    (2, "a cat and a dog"),
    (3, "the the the"),
    (4, None),
    (5, "   "),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _rows(df):
    return {
        (r["term"], r["shard"]): (
            r["df_shard"],
            r["tf_shard"],
            r["df"],
            tuple(r["postings"]),
        )
        for r in df.collect()
    }


def test_postings_semantics(spark, docs):
    got = _rows(term_postings(docs, n_shards=1))
    # "the": docs 0 (tf 2), 1 (tf 1), 3 (tf 3) -> df 3, tf 6
    assert got[("the", 0)] == (3, 6, 3, (0, 1, 3))
    assert got[("cat", 0)] == (2, 2, 2, (0, 2))
    assert got[("a", 0)] == (1, 2, 1, (2,))
    # NULL / whitespace-only docs contribute no terms
    for (term, _), (_, _, _, postings) in got.items():
        assert 4 not in postings and 5 not in postings


def test_sharding_is_lossless(spark, docs):
    whole = _rows(term_postings(docs, n_shards=1))
    sharded = term_postings(docs, n_shards=2)
    # per term: concat of shard postings == unsharded postings (as
    # sets; order inside each shard is ascending), df sums match
    by_term: dict[str, list] = {}
    for r in sharded.collect():
        by_term.setdefault(r["term"], []).append(r)
    for term, rows in by_term.items():
        ids = sorted(i for r in rows for i in r["postings"])
        assert tuple(ids) == whole[(term, 0)][3]
        assert sum(r["df_shard"] for r in rows) == whole[(term, 0)][0]
        for r in rows:
            assert r["df"] == whole[(term, 0)][2]
            assert list(r["postings"]) == sorted(r["postings"])
            assert all(i % 2 == r["shard"] for i in r["postings"])


def test_min_df_and_max_df_bounds(spark, docs):
    got = _rows(term_postings(docs, n_shards=1, min_df=2))
    assert set(t for t, _ in got) == {"the", "cat", "sat", "dog"}


def test_n_shards_guard(spark, docs):
    with pytest.raises(ValueError, match="n_shards"):
        term_postings(docs, n_shards=0)


def test_no_text_crosses_exchange(spark, docs):
    # the shuffle carries (term, doc_id[, tf]) — never the document
    # text column (payloads-never-shuffle rule)
    plan = (
        term_postings(docs, n_shards=2, min_df=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0)


def test_bm25_matches_python_replay(spark):
    import re
    from collections import Counter

    from ocr_pipeline_spark.operators.index import bm25_search

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = ("spark", "dup", "vector")
    got = [tuple(r) for r in bm25_search(docs, q, k=8).collect()]

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    toks = {
        d: re.sub(r"\s+", " ", (t or "").lower(), flags=re.ASCII)
        .strip(" ")
        .split(" ")
        for d, t in texts.items()
    }
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) // n
    df = {t: sum(1 for v in toks.values() if t in v) for t in q}

    def score(d):
        s, hit = 0, 0
        dl, c = len(toks[d]), Counter(toks[d])
        for t in q:
            tf = c.get(t, 0)
            if not tf:
                continue
            hit += 1
            idf = ((n + 1) // (df[t] + 1)).bit_length()
            norm = 2500 + (7500 * dl) // avgdl
            sat = (10000 * tf * 22000) // (
                10000 * tf + (12000 * norm) // 10000
            )
            s += idf * sat
        return s, hit

    want = sorted(
        ((score(d), d) for d in toks if score(d)[1]),
        key=lambda x: (-x[0][0], x[1]),
    )[:8]
    assert got == [(d, s[0], s[1]) for s, d in want]


def test_bm25_rare_term_outranks_common(spark):
    """A doc hitting only the rare term must outrank a doc hitting only
    an equally-frequent-within-doc common term (idf monotonicity)."""
    from ocr_pipeline_spark.operators.index import bm25_search

    rows = [(1, "rare " + "pad " * 20), (2, "common " + "pad " * 20)]
    rows += [(10 + i, "common filler text here") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_search(docs, ("rare", "common"), k=30).collect()
    }
    assert got[1] > got[2]


def test_bm25_rejects_empty_query(spark):
    import pytest as _pytest

    from ocr_pipeline_spark.operators.index import bm25_search

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_search(df, ())
