"""StageMetrics: executor-side accumulation, driver-side rates, and the
extract_job integration (north-rule per-stage docs/sec logging)."""

from __future__ import annotations

import json

from ocr_pipeline_spark.operators.extraction import extract_pages
from ocr_pipeline_spark.operators.metrics import StageMetrics
from ocr_pipeline_spark.plans.extract_job import run_extraction


def test_metrics_counts_all_rows(spark, pages_df):
    m = StageMetrics(spark, stages=("extract",))
    n = extract_pages(pages_df, metrics=m).count()
    rep = m.report()
    assert rep["extract"]["rows"] == n == pages_df.count()
    assert rep["extract"]["kernel_cpu_secs"] > 0
    assert rep["extract"]["docs_per_kernel_cpu_sec"] > 0


def test_run_extraction_logs_job_line(spark, pages_df, tmp_path, capfd):
    run_extraction(
        spark,
        pages_df,
        str(tmp_path / "out"),
        str(tmp_path / "man"),
        n_buckets=8,
    )
    lines = [
        json.loads(line)
        for line in capfd.readouterr().out.splitlines()
        if line.startswith("{")
    ]
    stages = {rec["stage"]: rec for rec in lines}
    assert stages["extract"]["rows"] == pages_df.count()
    assert stages["job"]["docs_per_sec"] > 0


def test_job_line_times_the_prepasses(
    spark, pages_df, tmp_path, capfd, monkeypatch
):
    """The "job" wall starts at call entry: a slow resume pre-pass
    (the committed-bucket read) shows up in wall_secs, which matches the
    call timed from outside."""
    import time

    from ocr_pipeline_spark.plans import extract_job

    real = extract_job.committed_buckets
    calls = []

    def slow(spark, manifest_path):
        calls.append(manifest_path)
        time.sleep(0.5)
        return real(spark, manifest_path)

    monkeypatch.setattr(extract_job, "committed_buckets", slow)
    t0 = time.monotonic()
    run_extraction(
        spark,
        pages_df,
        str(tmp_path / "out"),
        str(tmp_path / "man"),
        n_buckets=8,
    )
    outer = time.monotonic() - t0
    job = [
        json.loads(line)
        for line in capfd.readouterr().out.splitlines()
        if line.startswith('{"stage": "job"')
    ]
    assert len(calls) == 1
    assert len(job) == 1
    assert job[0]["wall_secs"] >= 0.5
    assert job[0]["wall_secs"] >= outer - 0.25


def test_profile_table_stats(spark):
    from ocr_pipeline_spark.operators.profiling import profile_table

    rows = [(1, "a"), (2, "b"), (3, None), (4, "a")]
    df = spark.createDataFrame(rows, "id long, v string")
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    assert set(got) == {"id", "v"}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_nulls"] == 0
    assert got["id"]["n_distinct"] == 4
    assert (got["id"]["min_value"], got["id"]["max_value"]) == ("1", "4")
    assert got["v"]["n_nulls"] == 1 and got["v"]["n_distinct"] == 2
    assert (got["v"]["min_value"], got["v"]["max_value"]) == ("a", "b")
    # all-NULL column coalesces to the '' sentinel
    allnull = spark.createDataFrame([(None,), (None,)], "x string")
    g = profile_table(allnull).collect()[0]
    assert (g["min_value"], g["max_value"]) == ("", "")
    assert g["n_nulls"] == 2 and g["n_distinct"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_table(df.select())


def test_profile_table_rejects_unquotable_names(spark):
    import pytest as _pytest

    from ocr_pipeline_spark.operators.profiling import profile_table

    df = spark.createDataFrame([(1,)], "id long")
    bad = df.withColumnRenamed("id", "it's")
    with _pytest.raises(ValueError, match="not profilable"):
        profile_table(bad)
    with _pytest.raises(ValueError, match="duplicate"):
        profile_table(df.select("id", "id"))


def test_corpus_report_values(spark):
    from ocr_pipeline_spark.operators.profiling import corpus_report

    good = (
        "the quick brown fox keeps the garden and the house in the sun "
        "while the dog sleeps by the door"
    )
    rows = [
        (1, good, "en", "a"),
        (2, good, "en", "a"),          # exact dup
        (3, "zz", "en", "b"),          # junk
        (4, good + " more", "de", "b"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r["metric"]: r["value"] for r in corpus_report(docs).collect()}
    assert got["n_docs"] == 4
    assert got["n_exact_dup_docs"] == 1
    assert got["n_langs"] == 2 and got["n_sources"] == 2
    assert got["n_quality"] == 3
    assert got["n_tokens"] == sum(len(t.split()) for _, t, _, _ in rows)
