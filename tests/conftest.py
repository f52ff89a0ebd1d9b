from __future__ import annotations

import uuid

import pytest

from ocr_pipeline_spark.session import get_spark
from ocr_pipeline_spark.sources.synth_pages import synth_pages


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ocr_pipeline_spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_ids(spark):
    """``job_ids(fn)`` runs ``fn()`` in a fresh Spark job group and returns
    the ids of the jobs it launched."""
    sc = spark.sparkContext

    def run(fn) -> list[int]:
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def pages_pdf():
    """Deterministic 200-row pages table (FIXTURES.md t_smoke)."""
    return synth_pages(200, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf):
    from ocr_pipeline_spark.sources.synth_pages import PAGES_SCHEMA

    df = spark.createDataFrame(pages_pdf, schema=PAGES_SCHEMA)
    df.persist()
    df.count()
    return df



@pytest.fixture(scope="session")
def edge_texts():
    """One row per input class the normalize recipe (textstats.norm_text)
    must treat alike on every engine: internal NBSP, leading/trailing
    U+3000, vertical tab, U+001C, NULL, '' and mixed ASCII whitespace."""
    return [
        "alpha\xa0beta Gamma",
        "\u3000Lead and trail\u3000",
        " a\u3000",
        "a\x0bb c",
        "a\x1cb",
        None,
        "",
        "  Mixed\tASCII \n whitespace\r\n\x0c",
    ]
