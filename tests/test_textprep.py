"""The normalize / tokenize recipe: the Column, Python and DuckDB forms
agree on edge text, no other module spells the recipe
itself, and the merged quality gate answers like its standalone tables."""

from __future__ import annotations

import pathlib
import re
import sys

import duckdb
from pyspark.sql import functions as F

from ocr_pipeline_spark.kernels.bpe import norm_words
from ocr_pipeline_spark.operators.textstats import (
    annotate_quality,
    lang_id,
    norm_text,
    quality_flags,
    tokens,
)

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_forms_agree_on_edge_rows(spark, edge_texts):
    df = spark.createDataFrame(list(enumerate(edge_texts)), "doc_id long, text string")
    text = F.col("text")
    rows = df.select(
        "doc_id",
        norm_text(text).alias("n"),
        tokens(text).alias("t"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(edge_texts)))
    duck = {
        i: (n, t)
        for i, n, t in con.execute(
            f"SELECT doc_id, {entrymod._NORM}, {entrymod._TOKS} FROM documents"
        ).fetchall()
    }

    assert len(rows) == len(edge_texts)
    for r in rows:
        want = norm_words(edge_texts[r["doc_id"]])
        assert r["t"] == want, r
        assert r["n"] == " ".join(want), r
        assert duck[r["doc_id"]] == (r["n"], want), r


# lower(coalesce( covers the Spark-SQL and DuckDB spellings
_INLINE_NORM = re.compile(
    r"lower\(coalesce\(|F\.lower\(F\.coalesce\(|regexp_replace\(F\.lower\(|\\s\+.*re\.ASCII"
)
_PLANTED = [
    "    return f\"trim(regexp_replace(lower(coalesce({c}, '')), '\\\\s+', ' '))\"",
    '    n = F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"\\s+", " "))',
    '    n = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\\s+", " "))',
    '    _ws = _re.compile(r"\\s+", _re.ASCII)',
]


def test_no_module_inlines_the_recipe():
    assert all(_INLINE_NORM.search(line) for line in _PLANTED)
    pkg = ROOT / "ocr_pipeline_spark"
    files = [(p.relative_to(ROOT).as_posix(), p) for p in sorted(pkg.rglob("*.py"))]
    files.append(("__spark_entry__.py", ROOT / "__spark_entry__.py"))
    allowed = {"ocr_pipeline_spark/operators/textstats.py", "ocr_pipeline_spark/kernels/bpe.py"}
    hits = []
    for rel, path in files:
        if rel in allowed:
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if rel == "__spark_entry__.py" and line.startswith("_NORM = "):
                continue
            if _INLINE_NORM.search(line):
                hits.append(f"{rel}:{no}: {line.strip()}")
    assert not hits, "normalize recipe spelled outside its definitions:\n" + "\n".join(hits)


def test_annotate_quality_matches_quality_flags_and_lang_id(spark, edge_texts):
    edge = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(edge_texts)], "doc_id long, text string"
    )
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .unionByName(edge)
    )
    got = annotate_quality(docs).select("doc_id", "n_tokens", "is_quality", "lang_guess")
    want = (
        quality_flags(docs)
        .select("doc_id", "n_tokens", "is_quality")
        .join(lang_id(docs).select("doc_id", "lang_guess"), "doc_id")
    )
    rows = sorted(got.collect())
    assert len(rows) == docs.count()
    assert rows == sorted(want.collect())
