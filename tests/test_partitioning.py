"""Salted hash(url) partitioning (SURVEY.md §4.3.1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.extraction import extract_pages
from ocr_pipeline_spark.operators.partitioning import (
    domain_of,
    find_hot_domains,
    salted_repartition,
)


def test_hot_domains_detected(spark, pages_df):
    hot = find_hot_domains(pages_df)
    # synthesizer routes ~45% of rows to site00/01/02
    assert set(hot) >= {"site00.example", "site01.example", "site02.example"}


def test_salting_spreads_hot_domain(spark, pages_df):
    hot = find_hot_domains(pages_df)
    n = 8
    unsalted = pages_df.repartition(n, domain_of(F.col("url")))
    salted = salted_repartition(pages_df, n, hot)

    def max_share(df):
        counts = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().collect()
        )
        total = sum(r["count"] for r in counts)
        return max(r["count"] for r in counts) / total

    # domain-partitioned: 20 domains into 8 partitions with 45% on 3 hot
    # domains → visible imbalance; salted: spread
    assert max_share(salted) < max_share(unsalted)
    assert max_share(salted) < 0.30


def test_salting_preserves_per_url_completeness(spark, pages_df):
    hot = find_hot_domains(pages_df)
    salted = salted_repartition(pages_df, 8, hot)
    assert salted.count() == pages_df.count()
    assert salted.select("url").distinct().count() == pages_df.count()
    # every url appears in exactly one partition
    multi = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("url").agg(F.countDistinct("pid").alias("npid"))
        .filter(F.col("npid") > 1)
    )
    assert multi.count() == 0


def test_extraction_unaffected_by_salting(spark, pages_df):
    hot = find_hot_domains(pages_df)
    plain = extract_pages(pages_df).orderBy("url").collect()
    salted = extract_pages(salted_repartition(pages_df, 8, hot)).orderBy("url").collect()
    assert plain == salted
