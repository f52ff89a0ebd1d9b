"""Curation job: quality gates + language filter + dedup drop, with
planted duplicates and junk documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.plans.curate_job import curate, run_curation

GOOD = (
    "the quick brown fox jumps over the lazy dog and then the dog chases "
    "the fox around the old oak tree while birds watch from above in the "
    "warm afternoon sun near the river bend"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, GOOD, "en", "web", len(GOOD)),
        (1, GOOD, "en", "web", len(GOOD)),  # exact duplicate of 0
        (2, GOOD.replace("quick", "swift"), "en", "web", len(GOOD)),  # near-dup
        (3, "zzz qqq xxp", "en", "web", 11),  # too short / no stopwords
        (4, "x" * 300, "en", "web", 300),  # one giant token
        (
            5,
            "the data pipeline reads the table and the job writes the "
            "output while the cluster runs the tasks and the driver "
            "collects the final metrics from all the executors",
            "en",
            "web",
            160,
        ),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_quality_and_exact_dedup(spark, corpus):
    kept = {r["doc_id"] for r in curate(corpus, dedup="exact").collect()}
    # 3 (junk) and 4 (wlen) gated out; 1 dropped as exact dup of 0;
    # 2 survives exact dedup (different text)
    assert kept == {0, 2, 5}


def test_minhash_dedup_also_drops_near_dup(spark, corpus):
    kept = {r["doc_id"] for r in curate(corpus, dedup="minhash").collect()}
    assert kept == {0, 5}  # 2 clustered with 0 via LSH+components


def test_no_dedup_keeps_quality_set(spark, corpus):
    kept = {r["doc_id"] for r in curate(corpus, dedup=None).collect()}
    assert kept == {0, 1, 2, 5}


def test_run_curation_summary(spark, corpus, tmp_path, capfd):
    out = str(tmp_path / "kept")
    summary = run_curation(spark, corpus, out, dedup="exact")
    assert summary["docs_in"] == 6 and summary["docs_kept"] == 3
    assert '"stage": "curate"' in capfd.readouterr().out
    assert spark.read.parquet(out).count() == 3


def test_curation_on_driver_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = curate(docs, langs=None, dedup="exact")
    assert 0 < kept.count() <= docs.count()
    assert kept.filter(F.col("is_quality") == False).count() == 0  # noqa: E712


def test_repetition_gate_and_scrub(spark):
    loopy = ("the spam the spam " * 12) + "ends here now"
    pii = (
        "the report said contact the admin at root@example.com for the "
        "server at 10.0.0.5 and the team fixed the issue after the call"
    )
    rows = [
        (0, GOOD, "en", "web", len(GOOD)),
        (1, loopy, "en", "web", len(loopy)),
        (2, pii, "en", "web", len(pii)),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["doc_id"]: r["text"]
        for r in curate(
            corpus, dedup="exact", max_rep_ratio=0.5, scrub=True
        ).collect()
    }
    assert 1 not in out                 # repetition gate dropped the loop
    assert 0 in out and out[0] == GOOD  # clean text untouched
    assert "<EMAIL>" in out[2] and "<IP>" in out[2]
    assert "root@example.com" not in out[2]
    # without the gate the loopy doc survives (it passes quality)
    kept_nogate = {r["doc_id"] for r in curate(corpus, dedup="exact").collect()}
    assert 1 in kept_nogate


def test_incremental_drops_already_known_content(spark):
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.textstats import fingerprint
    from ocr_pipeline_spark.plans.curate_job import curate_incremental

    rows = [
        (0, GOOD, "en", "web", len(GOOD)),
        (1, GOOD.replace("fox", "wolf"), "en", "web", len(GOOD)),
    ]
    increment = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # doc 0's content already exists in the kept corpus
    known = spark.createDataFrame([(GOOD,)], "text string").select(
        fingerprint(F.col("text")).alias("fingerprint")
    )
    kept = {
        r["doc_id"]
        for r in curate_incremental(increment, known, dedup="exact").collect()
    }
    assert kept == {1}
    # empty known set → increment curated as usual
    empty = known.filter(F.lit(False))
    kept2 = {
        r["doc_id"]
        for r in curate_incremental(increment, empty, dedup="exact").collect()
    }
    assert kept2 == {0, 1}
    # a NULL in the known set must be ignored, never sentinel-collide
    # with the kept side's coalesce and drop increment docs
    with_null = known.unionByName(
        spark.createDataFrame([(None,)], "fingerprint string")
    )
    kept3 = {
        r["doc_id"]
        for r in curate_incremental(increment, with_null, dedup="exact").collect()
    }
    assert kept3 == {1}
