"""SQL function registry: macro SQL UDFs match the DataFrame operators
bit-for-bit; the UDTF segments documents via LATERAL join identically to
the mapInPandas path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.functions import register_sql_functions, register_udtfs
from ocr_pipeline_spark.operators.extraction import explode_blocks, segment_pages
from ocr_pipeline_spark.operators.textstats import fingerprint, norm_text, rolling_hash

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def registered(spark):
    names = register_sql_functions(spark)
    assert "norm_text" in names and "rolling_hash31" in names
    register_udtfs(spark)


def test_sql_udfs_match_dataframe_operators(spark, edge_texts):
    edge = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(edge_texts)], "doc_id long, text string"
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(edge)
    docs.createOrReplaceTempView("docs_v")
    via_sql = spark.sql(
        """SELECT doc_id, norm_text(text) AS n, fingerprint16(text) AS fp,
                  rolling_hash31(text) AS rh, ws_token_count(text) AS wc
           FROM docs_v"""
    )
    via_df = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("n"),
        fingerprint(F.col("text")).alias("fp"),
        rolling_hash(F.col("text")).alias("rh"),
        F.size(F.split(norm_text(F.col("text")), " ")).alias("wc"),
    )
    assert sorted(via_sql.collect()) == sorted(via_df.collect())


def test_cos_sim_sql(spark):
    r = spark.sql(
        "SELECT cos_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS one, "
        "cos_sim(array(1.0d, 0.0d), array(0.0d, 2.0d)) AS zero"
    ).first()
    assert r["one"] == 1.0 and r["zero"] == 0.0


def test_extract_blocks_udtf_matches_operator(spark, pages_df):
    small = pages_df.limit(20)
    small.createOrReplaceTempView("pages_v")
    via_sql = spark.sql(
        """SELECT p.url, b.block_idx, b.span_start, b.span_end, b.block_text
           FROM pages_v p, LATERAL extract_blocks(p.html) b"""
    ).collect()
    via_op = (
        explode_blocks(segment_pages(small))
        .select("url", "block_idx", "span_start", "span_end", "block_text")
        .collect()
    )
    assert sorted(map(tuple, via_sql)) == sorted(map(tuple, via_op))
