"""Lineage manifests + checkpoint resume (SURVEY.md §5 item 4)."""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.lineage import (
    committed_buckets,
    with_bucket,
)
from ocr_pipeline_spark.plans.extract_job import run_extraction
from ocr_pipeline_spark.sources.synth_pages import PAGES_SCHEMA


def test_bucket_assignment_is_stable(spark, pages_df):
    a = with_bucket(pages_df, 16).select("url", "bucket").collect()
    b = with_bucket(pages_df.repartition(5), 16).select("url", "bucket").collect()
    assert dict((r["url"], r["bucket"]) for r in a) == dict(
        (r["url"], r["bucket"]) for r in b
    )


def _data_files(out: str) -> dict[str, float]:
    return {f: os.path.getmtime(f) for f in glob.glob(f"{out}/bucket=*/*.parquet")}


def test_full_run_then_resume_is_noop(spark, pages_df, tmp_path, job_ids):
    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    pages_df.write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    run_extraction(spark, pages, out, man, run_id="r1", n_buckets=8)

    got = spark.read.parquet(out)
    assert got.count() == pages_df.count()
    assert got.select("url").distinct().count() == pages_df.count()
    manifest = spark.read.parquet(man)
    assert manifest.count() == 8
    assert manifest.agg(F.sum("row_count")).first()[0] == pages_df.count()
    files = _data_files(out)

    # re-run with every bucket committed: the call reads the committed
    # bucket set and nothing else. The page files are gone, so any job
    # over the pages would fail.
    for f in glob.glob(str(tmp_path / "pages" / "*.parquet")):
        os.remove(f)
    rerun = job_ids(
        lambda: run_extraction(spark, pages, out, man, run_id="r2", n_buckets=8)
    )
    bare = job_ids(lambda: committed_buckets(spark, man))
    assert len(rerun) == len(bare)
    assert spark.read.parquet(man).count() == 8
    assert _data_files(out) == files


def test_nothing_pending_with_incomplete_manifest_is_noop(spark, pages_pdf,
                                                          tmp_path):
    """3 urls in 64 buckets: the manifest never covers every bucket, so a
    re-run goes through the pipeline on zero pending rows. It must write
    nothing and raise nothing (under AQE the plan is proven empty at
    runtime)."""
    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    three = spark.createDataFrame(pages_pdf.head(3), schema=PAGES_SCHEMA)
    run_extraction(spark, three, out, man, run_id="r1", n_buckets=64)
    committed = spark.read.parquet(man).collect()
    assert 0 < len(committed) <= 3
    files = _data_files(out)

    run_extraction(spark, three, out, man, run_id="r2", n_buckets=64)
    assert sorted(spark.read.parquet(man).collect()) == sorted(committed)
    assert _data_files(out) == files


def test_resume_reads_back_only_its_own_buckets(spark, pages_df, tmp_path,
                                               monkeypatch):
    """The manifest of a resumed run is derived from files of the buckets
    it wrote; the directories of earlier runs' buckets are never opened."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    half = with_bucket(pages_df, 8).filter(F.col("bucket") < 4).drop("bucket")
    run_extraction(spark, half, out, man, run_id="r1", n_buckets=8)

    reads = []
    real = DataFrameReader.parquet

    def capture(self, *paths, **options):
        df = real(self, *paths, **options)
        if any(str(p).startswith(out) for p in paths):
            reads.append(df)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", capture)
    run_extraction(spark, pages_df, out, man, run_id="r2", n_buckets=8)
    monkeypatch.undo()

    r2 = {r["bucket"] for r in spark.read.parquet(man).collect()
          if r["run_id"] == "r2"}
    assert r2 == set(range(4, 8))
    opened = [f for df in reads for f in df.inputFiles()]
    assert opened
    for f in opened:
        b = re.search(r"/bucket=(\d+)/", f)
        assert b and int(b.group(1)) in r2, f


def test_partial_failure_resume_completes_without_dupes(spark, pages_df, tmp_path):
    """Kill-after-partial-commit: run over half the buckets, then resume
    over the full input; final output has every url exactly once and the
    two runs' manifests cover disjoint buckets."""
    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    n_buckets = 8

    # simulate a crash: only buckets 0-3 were processed and committed
    half = with_bucket(pages_df, n_buckets).filter(F.col("bucket") < 4).drop("bucket")
    run_extraction(spark, half, out, man, run_id="r1", n_buckets=n_buckets)
    first = spark.read.parquet(out).count()
    assert 0 < first < pages_df.count()

    # resume with the FULL input — the resume filter must skip committed buckets
    run_extraction(spark, pages_df, out, man, run_id="r2", n_buckets=n_buckets)
    got = spark.read.parquet(out)
    assert got.count() == pages_df.count()
    assert got.select("url").distinct().count() == pages_df.count()

    manifest = spark.read.parquet(man).collect()
    r1_buckets = {r["bucket"] for r in manifest if r["run_id"] == "r1"}
    r2_buckets = {r["bucket"] for r in manifest if r["run_id"] == "r2"}
    assert r1_buckets == {0, 1, 2, 3}
    assert r1_buckets.isdisjoint(r2_buckets)
    assert r1_buckets | r2_buckets == set(range(n_buckets))


def test_bytes_hash_is_order_independent(spark, pages_df, tmp_path):
    out1, man1 = str(tmp_path / "o1"), str(tmp_path / "m1")
    out2, man2 = str(tmp_path / "o2"), str(tmp_path / "m2")
    run_extraction(spark, pages_df, out1, man1, run_id="a", n_buckets=4,
                   num_partitions=2)
    run_extraction(spark, pages_df.repartition(13), out2, man2, run_id="b",
                   n_buckets=4, num_partitions=7)
    h1 = {r["bucket"]: r["bytes_hash"]
          for r in spark.read.parquet(man1).collect()}
    h2 = {r["bucket"]: r["bytes_hash"]
          for r in spark.read.parquet(man2).collect()}
    assert h1 == h2


def test_compaction_one_file_per_bucket(spark, pages_df, tmp_path):
    out = str(tmp_path / "extracted")
    run_extraction(spark, pages_df, out, str(tmp_path / "man"),
                   run_id="c1", n_buckets=4, num_partitions=8)
    for b in range(4):
        files = glob.glob(f"{out}/bucket={b}/*.parquet")
        assert len(files) == 1, (b, files)


def test_diff_extractions_statuses(spark):
    from ocr_pipeline_spark.operators.lineage import diff_extractions

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
        "url string, text_sha256 string",
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "CHANGED"), ("u4", "h4")],
        "url string, text_sha256 string",
    )
    got = {
        r["url"]: (r["status"], r["old_sha"], r["new_sha"])
        for r in diff_extractions(old, new).collect()
    }
    assert got == {
        "u1": ("same", "h1", "h1"),
        "u2": ("diff", "h2", "CHANGED"),
        "u3": ("only_old", "h3", ""),
        "u4": ("only_new", "", "h4"),
    }


def test_diff_extractions_null_hash_is_presence_not_absence(spark):
    from ocr_pipeline_spark.operators.lineage import diff_extractions

    old = spark.createDataFrame(
        [("u", None)], "url string, text_sha256 string"
    )
    new = spark.createDataFrame(
        [("u", "abc")], "url string, text_sha256 string"
    )
    r = diff_extractions(old, new).collect()[0]
    # the url existed in BOTH runs — a NULL hash is a failed
    # extraction, not an absent document
    assert (r["status"], r["old_sha"], r["new_sha"]) == ("diff", "", "abc")
    # two NULL hashes are the same (failed) result
    r2 = diff_extractions(old, old).collect()[0]
    assert r2["status"] == "same"
