"""Spark ⇄ oracle parity: the north-rule byte-identity check end-to-end.

Runs the fused mapInPandas job AND the relational explode→regroup form over
the 200-row smoke pages table and compares both against the pure-Python
kernels run standalone on the same payloads.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.kernels.extract import extract_document
from ocr_pipeline_spark.operators.extraction import (
    explode_blocks,
    extract_pages,
    regroup_blocks,
    segment_pages,
)
from ocr_pipeline_spark.plans.extract_job import run_extraction


@pytest.fixture(scope="module")
def oracle(pages_pdf):
    return {row.url: extract_document(row.html) for row in pages_pdf.itertuples()}


def test_fused_extraction_byte_identical(spark, pages_df, oracle):
    got = {
        r["url"]: r
        for r in extract_pages(pages_df).collect()
    }
    assert set(got) == set(oracle)
    for url, want in oracle.items():
        row = got[url]
        assert row["text"] == want.text, url            # byte identity
        assert row["text_sha256"] == want.text_sha256, url
        assert row["n_blocks"] == want.n_blocks, url
        assert row["error"] == want.error, url
        assert row["kind"] == want.kind, url


def test_extraction_job_byte_identical(spark, pages_df, oracle, tmp_path):
    """run_extraction end to end on the skewed pages (3 hot domains hold
    about 45% of rows): every url's written (text_sha256, error) equals
    the kernel's, whatever partition its url hashed to."""
    from ocr_pipeline_spark.operators.partitioning import domain_of

    top3 = sum(r["count"] for r in pages_df.groupBy(domain_of(F.col("url")))
               .count().orderBy(F.desc("count")).limit(3).collect())
    assert top3 > 0.35 * pages_df.count()
    out = str(tmp_path / "out")
    run_extraction(spark, pages_df, out, str(tmp_path / "man"), n_buckets=8)
    got = {r["url"]: (r["text_sha256"], r["error"])
           for r in spark.read.parquet(out).collect()}
    assert got == {url: (want.text_sha256, want.error)
                   for url, want in oracle.items()}


def test_fused_extraction_independent_of_partitioning(spark, pages_df):
    """North-rule determinism: output independent of parallelism."""
    a = extract_pages(pages_df.repartition(1)).orderBy("url").collect()
    b = extract_pages(pages_df.repartition(17)).orderBy("url").collect()
    assert a == b


def test_exploded_blocks_match_oracle(spark, pages_df, oracle):
    seg = segment_pages(pages_df)
    rows = explode_blocks(seg).collect()
    by_url: dict[str, list] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for url, want in oracle.items():
        if want.error is not None:
            assert url not in by_url
            continue
        got = sorted(by_url.get(url, []), key=lambda r: r["block_idx"])
        assert len(got) == len(want.blocks), url
        for r, b, keep in zip(got, want.blocks, want.flags):
            assert r["pos"] == r["block_idx"] == b.block_idx
            assert (r["span_start"], r["span_end"]) == (b.span_start, b.span_end)
            assert r["is_content"] == keep
            assert r["block_text"] == b.text
            assert r["link_density"] == pytest.approx(b.link_density)


def test_regroup_equals_fused(spark, pages_df):
    """explode → filter(is_content) → regroup ≡ fused text (J3/O1 parity)."""
    fused = extract_pages(pages_df).filter(
        F.col("error").isNull() & (F.length("text") > 0)
    )
    regrouped = regroup_blocks(explode_blocks(segment_pages(pages_df)))
    joined = fused.select("url", F.col("text").alias("fused")).join(
        regrouped.select("url", F.col("text").alias("regrouped")), "url", "full"
    )
    bad = joined.filter(
        F.col("fused").isNull()
        | F.col("regrouped").isNull()
        | (F.col("fused") != F.col("regrouped"))
    )
    assert bad.count() == 0


def test_error_column_pattern(spark, pages_df):
    """P6: malformed payloads become error rows, not exceptions; the
    valid/invalid split partitions the input exactly."""
    ext = extract_pages(pages_df)
    ok = ext.filter(F.col("error").isNull())
    bad = ext.filter(F.col("error").isNotNull())
    assert ok.count() + bad.count() == pages_df.count()
    assert bad.count() >= 2  # synthesizer plants empty + garbage-pdf rows
    assert bad.filter(F.length("text") > 0).count() == 0


def test_scan_is_pruned_to_url_html(spark, pages_df, tmp_path_factory):
    """Column pruning through mapInPandas: the parquet scan must read only
    (url, html) — not warc_ts/text/lang (SURVEY.md §4.2)."""
    path = str(tmp_path_factory.mktemp("prune") / "pages.parquet")
    pages_df.write.mode("overwrite").parquet(path)
    plan = extract_pages(
        spark.read.parquet(path)
    )._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l or "FileScan" in l)
    assert "url" in scan_line and "html" in scan_line
    assert "warc_ts" not in scan_line and "lang" not in scan_line
