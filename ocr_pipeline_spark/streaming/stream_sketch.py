"""Continuous sketch maintenance — a count-min sketch of the token
stream kept up to date by a Structured Streaming query.

Reference analogy: the reference's monitoring accumulates counters per
request and serves them on demand (monitoring/monitoring.py counter
maps); this is the corpus-statistics version — "how often has token X
appeared in everything ingested so far" answerable at any moment
without rescanning the corpus.

Design: the cms_state cells are MERGEABLE (cellwise addition —
operators/sketch.py), so the streaming state is an APPEND-ONLY log of
per-micro-batch partial states:

    state_dir/batch=<run_id>-<epoch>/  ← one tiny parquet of (row_idx,
                                 col_idx, cnt) cells per micro-batch
                                 (≤ CMS_DEPTH × CMS_WIDTH rows, regardless of
                                 batch size)

- the writer never read-modifies-writes: appending a partial state is
  atomic per micro-batch (foreachBatch epoch id = idempotent overwrite
  of that batch's own partition on replay, the standard exactly-once
  foreachBatch recipe);
- the partition key is ``<run_id>-<epoch>``, NOT the bare epoch:
  epoch ids restart at 0 per checkpoint, so two concurrent writers —
  or a fresh-checkpoint restart after compaction — would silently
  clobber each other's cells under a bare-epoch key. Each writer
  (stream, cluster node, restart) must pass a distinct ``run_id``;
  ``compact_sketch_log`` writes to the reserved ``batch=compacted``
  partition, which no (run_id, epoch) pair can produce (run ids may
  not be the literal string 'compacted');
- reading the sketch = groupBy(row, col).sum over the log — cheap
  because each batch contributes at most CMS_DEPTH×CMS_WIDTH cells;
- ``compact_sketch_log`` folds the log back to one partition when the
  batch count grows (read-merge-rewrite; run it offline or between
  restarts — readers during compaction see either the old log or the
  new, both summing identically).

At 10^12 docs/day this is the shape that works: the corpus never
rescans, the stream ships only sketch cells, and any number of
ingestion streams (or cluster nodes) can append partial states to the
same log — merge is commutative/associative — PROVIDED each writer
holds its own ``run_id`` (the partition key is per-writer, so
concurrent appends land in disjoint partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketch import cms_state
from ..operators.textstats import tokens
from .stream_extract import DOCS_SCHEMA

__all__ = [
    "start_token_sketch_stream",
    "read_sketch",
    "compact_sketch_log",
]


def _batch_cells(docs: DataFrame) -> DataFrame:
    toks = docs.select(
        F.explode_outer(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    return cms_state(toks, "tok")


_COMPACTED = "compacted"


def _check_run_id(run_id: str) -> str:
    """Partition-safe writer id: path-safe charset, and never the
    reserved compaction partition value."""
    import re

    if run_id == _COMPACTED or not re.fullmatch(r"[A-Za-z0-9_.]+", run_id):
        raise ValueError(
            f"run_id must match [A-Za-z0-9_.]+ and not be "
            f"'{_COMPACTED}': {run_id!r}"
        )
    return run_id


def start_token_sketch_stream(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint: str,
    available_now: bool = False,
    run_id: str = "run0",
) -> StreamingQuery:
    """Maintain a CMS over the token stream of a growing documents
    directory. Each micro-batch appends its ≤ CMS_DEPTH×CMS_WIDTH partial-state
    cells under ``state_dir/batch=<run_id>-<epoch>`` (dynamic partition
    overwrite → replayed epochs overwrite themselves, not the log).

    ``run_id`` must be unique per concurrent writer AND per
    fresh-checkpoint restart — epoch ids restart at 0 with a new
    checkpoint, and only the run_id keeps the new epoch 0 from
    overwriting an old writer's (or the compacted) partition."""
    _check_run_id(run_id)
    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(src_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        cells = _batch_cells(batch).withColumn(
            "batch", F.lit(f"{run_id}-{int(epoch_id)}")
        )
        (
            cells.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(state_dir)
        )

    writer = docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged sketch: cellwise sum over every appended partial
    state — usable directly by ``operators.sketch.cms_estimate``."""
    return (
        spark.read.parquet(state_dir)
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def compact_sketch_log(spark: SparkSession, state_dir: str) -> None:
    """Fold the log to the single reserved ``batch=compacted`` partition
    (run offline / between restarts; merge is associative so the
    compacted log sums identically to the original). No writer can
    collide with it: run ids may not be 'compacted', so every stream
    partition is ``<run_id>-<epoch>``."""
    merged = read_sketch(spark, state_dir).withColumn(
        "batch", F.lit(_COMPACTED)
    )
    rows = [r.asDict() for r in merged.collect()]  # ≤ CMS_DEPTH×CMS_WIDTH cells
    (
        spark.createDataFrame(
            rows, "row_idx int, col_idx bigint, cnt long, batch string"
        )
        .coalesce(1)
        .write.mode("overwrite")
        # STATIC explicitly: compaction must replace the WHOLE log, but
        # a session that ever ran lineage.write_epoch... (which sets
        # partitionOverwriteMode=dynamic session-wide) would otherwise
        # overwrite only batch=compacted and leave the per-run
        # partitions in place — double-counting every cell on read
        .option("partitionOverwriteMode", "static")
        .partitionBy("batch")
        .parquet(state_dir)
    )
