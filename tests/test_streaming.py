"""Streaming surface tests (SURVEY.md §2.8 rebuild).

- availableNow extraction stream ≡ batch extraction (same kernel, same
  bytes) — the drain-trigger path B3;
- maxFilesPerTrigger bounds micro-batch size — the size-trigger path B5;
- windowed counts with watermark run identically in batch mode (B8).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.extraction import extract_pages
from ocr_pipeline_spark.sources.synth_pages import PAGES_SCHEMA, synth_pages
from ocr_pipeline_spark.streaming import (
    start_extract_stream,
    stream_dedup,
    stream_window_counts,
)


@pytest.fixture(scope="module")
def pages_src(spark, pages_pdf, tmp_path_factory):
    """Pages table written as 4 separate parquet files (4 stream arrivals)."""
    root = tmp_path_factory.mktemp("stream_src")
    n = len(pages_pdf)
    step = n // 4
    for i in range(4):
        chunk = pages_pdf.iloc[i * step : (i + 1) * step if i < 3 else n]
        spark.createDataFrame(chunk, schema=PAGES_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(str(root / "pages"))
    return str(root / "pages")


def _wait(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()
        raise AssertionError("stream did not drain in time")


def test_available_now_matches_batch(spark, pages_src, tmp_path):
    out = str(tmp_path / "out")
    q = start_extract_stream(
        spark,
        pages_src,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    _wait(q)
    streamed = spark.read.parquet(out).select("url", "text_sha256")
    batch = extract_pages(spark.read.parquet(pages_src)).select(
        "url", "text_sha256"
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_max_files_per_trigger_bounds_batches(spark, pages_src, tmp_path):
    """4 input files + maxFilesPerTrigger=1 → 4 micro-batches (B5)."""
    out = str(tmp_path / "out")
    q = start_extract_stream(
        spark,
        pages_src,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        available_now=True,
    )
    _wait(q)
    assert q.lastProgress["batchId"] >= 3  # batch ids 0..3
    n_in = spark.read.parquet(pages_src).count()
    assert spark.read.parquet(out).count() == n_in


def test_stream_kill_resume_exactly_once(spark, pages_src, tmp_path):
    """Durability (the reference's dead RabbitMQ path, done right): stop
    the stream mid-backlog, restart from the same checkpoint — the final
    output holds every input url exactly once."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = start_extract_stream(
        spark, pages_src, out, ckpt, max_files_per_trigger=1
    )  # default trigger: continuous micro-batches
    # let at least one micro-batch commit, then kill mid-backlog
    deadline = time.time() + 60
    while time.time() < deadline and (q.lastProgress is None):
        time.sleep(0.5)
    q.stop()
    q2 = start_extract_stream(
        spark, pages_src, out, ckpt, max_files_per_trigger=1,
        available_now=True,
    )
    _wait(q2)
    got = spark.read.parquet(out)
    n_in = spark.read.parquet(pages_src).count()
    assert got.count() == n_in
    assert got.select("url").distinct().count() == n_in


def test_stream_dedup_drops_recrawls(spark, tmp_path):
    """Two stream arrivals carrying the same urls → one row per url in
    the sink (state-backed exact dedup within the watermark)."""
    import datetime

    src = str(tmp_path / "src")
    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = [(f"https://d.example/{i}", ts, b"<p>x</p>", None, "en") for i in range(20)]
    from ocr_pipeline_spark.sources.synth_pages import PAGES_SCHEMA

    for _ in range(2):  # same urls written twice = recrawl
        spark.createDataFrame(rows, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    q = (
        stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _wait(q)
    got = spark.table("dedup_out")
    assert got.count() == 20
    assert got.select("url").distinct().count() == 20


def test_window_counts_batch_semantics(spark, pages_df):
    """Watermarked windowed agg runs in batch mode and totals match."""
    wc = stream_window_counts(pages_df)
    total = wc.agg(F.sum("n_docs")).first()[0]
    assert total == pages_df.count()
    one = wc.first()
    assert one["window_end"] > one["window_start"]


def test_stream_curate_gates_and_dedups(spark, tmp_path):
    """Streaming curation: quality gate + watermark dedup in one query."""
    import datetime

    from ocr_pipeline_spark.streaming import stream_curate

    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    good = (
        "the quick brown fox keeps the garden and the house in the sun "
        "while the dog sleeps by the door"
    )
    junk = "zxq wvk pfj"
    rows = [
        (1, ts, good, "en"),
        (2, ts + datetime.timedelta(minutes=1), good, "en"),  # dup
        (3, ts, junk, "en"),                                  # gated
        (4, ts, good + " extra words here", "en"),
    ]
    schema = "doc_id long, warc_ts timestamp, text string, lang string"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stream_curate(stream)
        .writeStream.format("memory")
        .queryName("curate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _wait(q)
    got = spark.table("curate_out")
    assert got.select("fingerprint").distinct().count() == got.count()
    assert got.count() == 2  # two distinct quality texts
    assert set(
        r["doc_id"] for r in got.collect()
    ) <= {1, 2, 4}


def test_start_curate_stream_end_to_end(spark, tmp_path):
    import datetime

    from ocr_pipeline_spark.streaming import start_curate_stream

    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    good = (
        "the quick brown fox keeps the garden and the house in the sun "
        "while the dog sleeps by the door"
    )
    rows = [(1, ts, good, "en"), (2, ts, good, "en"), (3, ts, "zz", "en")]
    schema = "doc_id long, warc_ts timestamp, text string, lang string"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    q = start_curate_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        available_now=True,
    )
    _wait(q)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 1  # one quality fingerprint survives
    assert got.first()["doc_id"] in (1, 2)
