"""Streaming extraction: readStream → fused kernel → writeStream.

Mapping from the reference's hand-built micro-batch loop (SURVEY.md §2.8):

- B1/B5 size trigger  → ``maxFilesPerTrigger`` on the file source (a
  micro-batch fires when enough input accumulates);
- B2 fixed-size bucket → the Arrow record batch the kernel receives
  (``session.ARROW_MAX_RECORDS_PER_BATCH`` rows, the remainder riding
  in the partition's last batch);
- B6 time trigger     → ``trigger(processingTime=...)``;
- B7 hybrid           → both at once (Spark's trigger loop IS hybrid:
  every interval it takes *up to* the size cap);
- B3 drain            → ``trigger(availableNow=True)``: process the
  backlog as a sequence of bounded micro-batches, then stop;
- durability (the reference's RabbitMQ persistent-delivery path,
  rabbitmq/queue.py:40-66) → the checkpoint dir + file-sink commit log:
  exactly-once, resumable, no monitor-loop race (the get_batch/clear race
  at message_queue/monitor.py:50-56 cannot exist — offsets are committed
  atomically with the sink transaction);
- B8 late data        → watermarks on event-time windows
  (``stream_window_counts``); the reference simply blocked forever on
  lost results (pipeline/app.py:253).

The transformation body is the SAME ``extract_pages`` used in batch —
one code path for both engines is the point of building on DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction import extract_pages
from ..sources.synth_pages import PAGES_SCHEMA

__all__ = [
    "start_curate_stream",
    "stream_curate",
    "read_pages_stream",
    "start_extract_stream",
    "stream_window_counts",
    "stream_dedup",
    "DOCS_SCHEMA",
]

# The documents table with an event-time column, as the streams read it.
DOCS_SCHEMA = "doc_id long, warc_ts timestamp, text string, lang string"
# stream_window_counts' event-time window and its late-data bound.
STREAM_WINDOW = "1 hour"
STREAM_WATERMARK = "2 hours"


def stream_dedup(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("url",),
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first row per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark`` — keys
    older than the watermark are evicted, so state is O(keys per window),
    not O(all keys ever)). The Common-Crawl shape: recrawls of a url
    within the window are duplicates; across windows they are new
    versions."""
    return df.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def read_pages_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the pages table. ``max_files_per_trigger``
    is the size-trigger analogue (B5): bounds pages per micro-batch the
    way the reference's bucket bounded regions per GPU call."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def _start_parquet_sink(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool,
    processing_time: str | None,
) -> StreamingQuery:
    """Shared parquet-sink + trigger surface for every streaming runner
    (extract, curate) — one place to grow the trigger options."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_extract_stream(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Run the extraction kernel as a streaming query with the trigger
    semantics chosen by the caller (hybrid = both size and time)."""
    pages = read_pages_stream(spark, src_dir, max_files_per_trigger)
    extracted = extract_pages(pages)
    return _start_parquet_sink(
        extracted, out_path, checkpoint, available_now, processing_time
    )


def stream_window_counts(
    events: DataFrame,
    ts_col: str = "warc_ts",
    key_col: str = "lang",
) -> DataFrame:
    """Event-time windowed counts with a watermark (late-data bound).

    Works identically on a streaming or batch DataFrame (watermark is a
    no-op in batch) — the per-stage docs/sec metrics rollup of the north
    rule, windowed by ingestion time. Late rows beyond
    ``STREAM_WATERMARK`` are dropped instead of blocking forever (the
    reference's failure mode, pipeline/app.py:253)."""
    return (
        events.withWatermark(ts_col, STREAM_WATERMARK)
        .groupBy(
            F.window(F.col(ts_col), STREAM_WINDOW).alias("w"), F.col(key_col)
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n_docs",
        )
    )


def stream_curate(
    docs: DataFrame,
    watermark: str = "24 hours",
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Streaming curation: the batch curate() gates composed for a
    continuous ingest — narrow quality/language annotation (zero state),
    then watermark-bounded exact dedup on the content fingerprint
    (state = distinct fingerprints per window, evicted past the
    watermark; a recrawl of identical content inside the window is a
    duplicate, across windows a new version)."""
    from ..operators.textstats import annotate_quality, fingerprint

    kept = annotate_quality(docs).filter(F.col("is_quality"))
    if langs is not None:
        kept = kept.filter(F.col("lang_guess").isin(list(langs)))
    keyed = kept.withColumn("fingerprint", fingerprint(F.col("text")))
    return stream_dedup(keyed, key_cols=("fingerprint",), watermark=watermark)


def start_curate_stream(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    langs: tuple[str, ...] | None = None,
    watermark: str = "24 hours",
    available_now: bool = False,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run stream_curate as a continuous parquet→parquet query (the
    curation sibling of start_extract_stream, same trigger surface;
    ``max_files_per_trigger`` bounds each micro-batch like
    read_pages_stream's size trigger — with availableNow it splits a
    bounded backlog into real incremental micro-batches). Reads
    ``DOCS_SCHEMA`` rows."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(src_dir)
    curated = stream_curate(docs, watermark=watermark, langs=langs)
    return _start_parquet_sink(
        curated, out_path, checkpoint, available_now, processing_time
    )
