"""The flagship job: pages table → extracted table + lineage manifests.

Rebuild lifecycle (SURVEY.md §3.3):

    pages (scan; Catalyst prunes to url/html)
    → resume filter: drop the buckets the manifest already lists
    → repartition(P, hash(url))                    [shuffle: url, html]
    → mapInPandas fused extraction kernel          [Arrow-batched]
    → write extracted, observing the buckets written
                                        [shuffle on bucket: extracted text]
    → read back those buckets → manifest rows

Scale notes (100 TB / 10^12 docs):
- the first shuffle moves only (url, html); url is the finest key, so a hot
  domain's urls spread over every kernel task with no salt or pre-pass
  (AQE cannot rebalance a mapInPandas stage, so the key must);
- nothing block-level ever shuffles; the fused kernel keeps fan-out/fan-in
  inside one Arrow batch;
- resume cost is one read of the manifest's bucket ids, independent of
  data size; a call whose manifest already covers every bucket returns
  before any job touches the pages;
- no eager pre-pass over the input: the write reports the buckets it
  wrote, so the manifest read-back never lists other runs' buckets.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

import time

from ..operators.extraction import extract_pages
from ..operators.lineage import (
    committed_buckets,
    pending,
    with_bucket,
    write_extracted_with_manifest,
)
from ..operators.metrics import StageMetrics

__all__ = ["run_extraction"]


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    manifest_path: str,
    run_id: str | None = None,
    n_buckets: int = 64,
    num_partitions: int | None = None,
) -> str:
    """Run (or resume) the extraction job. Returns the run_id.

    Logs per-stage docs/sec (north rule): kernel-cpu rate via
    accumulators plus job wall docs/sec. The job wall time covers the
    whole call, the committed-bucket read included."""
    t0 = time.monotonic()
    run_id = run_id or uuid.uuid4().hex
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    metrics = StageMetrics(spark, stages=("extract",))

    # at most n_buckets ints; no job on a first run (no manifest yet). A
    # manifest covering every bucket means nothing can be pending: return
    # before any job touches the pages.
    done = committed_buckets(spark, manifest_path)
    if not done.issuperset(range(n_buckets)):
        todo = pending(with_bucket(pages, n_buckets), done)
        balanced = todo.repartition(num_partitions, "url")
        extracted = with_bucket(extract_pages(balanced, metrics=metrics), n_buckets)
        write_extracted_with_manifest(extracted, out_path, manifest_path, run_id)
    wall = time.monotonic() - t0
    rep = metrics.log()
    n_docs = rep.get("extract", {}).get("rows", 0)
    print(
        '{"stage": "job", "rows": %d, "wall_secs": %.3f, "docs_per_sec": %.1f}'
        % (n_docs, wall, n_docs / wall if wall else 0.0)
    )
    return run_id
