"""Per-partition lineage manifests + checkpoint resume (north rule).

Replaces the reference's durability story (persistent RabbitMQ delivery,
message_queue/rabbitmq/queue.py:40-66 — dead code in practice) with the
model Iceberg provides: atomic snapshot commits + a manifest table that
records what was processed, so a failed run resumes by skipping committed
work.

Unit of resume: a deterministic *bucket* of urls, ``pmod(xxhash64(url),
n_buckets)`` — stable across runs and cluster sizes (task partition ids are
NOT stable, so they are recorded for observability but never used as the
resume key). A run writes, per bucket:

    bucket int, run_id string, row_count long, n_errors long,
    bytes_hash string (xor-fold of per-url sha256 — order-independent),
    committed_at timestamp

Resume = drop the pages whose bucket the manifest already lists
(SURVEY.md §4.3.2).
With Iceberg the output append + manifest append would share one
transaction; on plain parquet we emulate by writing output first, manifest
last (manifest row ⇒ bucket fully present — write-ahead in the safe
direction). Partial bucket output from a crashed run is overwritten by the
deterministic dynamic-partition overwrite of that bucket.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "MANIFEST_SCHEMA",
    "diff_extractions",
    "with_bucket",
    "committed_buckets",
    "pending",
    "write_extracted_with_manifest",
]

MANIFEST_SCHEMA = (
    "bucket int, run_id string, row_count long, n_errors long, "
    "bytes_hash string, committed_at timestamp"
)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")
    )


def committed_buckets(spark: SparkSession, manifest_path: str) -> set[int]:
    """Bucket ids committed by prior runs; empty if none exist yet.

    One read of the manifest's bucket column, with its known schema (no
    inference job); a first run (no manifest) runs no job at all."""
    try:
        manifest = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
    except AnalysisException:  # first run: no manifest table
        return set()
    return {r["bucket"] for r in manifest.select("bucket").distinct().collect()}


def pending(pages_bucketed: DataFrame, committed: set[int]) -> DataFrame:
    """Resume: drop pages whose bucket already committed (J4). The ids
    are at most n_buckets ints, so this is a literal filter, not a join
    against the manifest; with none committed it folds away."""
    return pages_bucketed.filter(~F.col("bucket").isin(sorted(committed)))


def _xor_fold_sha():
    """Order-independent 64-bit fold of per-url text sha256 — the bucket's
    bytes_hash is identical no matter how rows were partitioned/ordered."""
    return F.lpad(
        F.hex(
            F.expr(
                "aggregate(collect_list(conv(substring(text_sha256,1,15),16,10)),"
                " 0L, (acc, x) -> acc ^ cast(x as bigint))"
            )
        ),
        16,
        "0",
    )


def write_extracted_with_manifest(
    extracted_bucketed: DataFrame,
    out_path: str,
    manifest_path: str,
    run_id: str,
    run_buckets: list[int] | None = None,
) -> None:
    """Commit extracted rows + their lineage manifest, bucket-partitioned.

    partitionOverwriteMode=dynamic replaces only the buckets present in
    this run (idempotent re-run of a crashed bucket); with Iceberg this
    whole function is one ``append`` + one manifest ``append`` in a single
    transaction.

    The manifest is aggregated from the rows READ BACK from ``out_path``,
    not from ``extracted_bucketed``: referencing the un-materialized plan
    twice would run the whole extraction kernel a second time, and a
    manifest derived from committed bytes is the stronger integrity claim
    (it describes what is actually on disk). The write observes the set
    of buckets it wrote, so the read-back opens only those bucket
    directories, with the written schema (no inference job, no listing of
    other runs' buckets). Nothing written (fully-resumed or empty input)
    means no manifest rows.

    ``run_buckets``: optional caller-known bucket set; an empty list skips
    the write, and the read-back is restricted to it.
    """
    spark = extracted_bucketed.sparkSession
    if run_buckets is not None and not run_buckets:
        return  # nothing pending (fully-resumed or empty input): no-op
    # small-files control: partitionBy writes one file per (task, bucket)
    # pair — from P kernel tasks that is up to P × buckets shards per run.
    # Repartitioning on bucket first yields ONE file per bucket per run;
    # the shuffle moves extracted text (~10× smaller than the page
    # payloads that already moved).
    extracted_bucketed = extracted_bucketed.repartition(F.col("bucket"))
    # observed on the written root, above the exchange: an observation
    # below it is dropped when AQE proves the plan empty at runtime, and
    # Observation.get then raises instead of returning an empty set.
    # Set union is idempotent, so a retried task cannot corrupt it.
    wrote = Observation()
    # per-WRITE option, not spark.conf.set: a session-wide mutation
    # silently flips every later mode("overwrite")+partitionBy write in
    # the same session to partition-level semantics (a later full-table
    # overwrite becomes an append)
    (
        extracted_bucketed.observe(wrote, F.collect_set("bucket").alias("b"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    buckets = set(wrote.get["b"])
    if run_buckets is not None:
        buckets &= set(run_buckets)
    if not buckets:
        return
    written = (
        spark.read.schema(extracted_bucketed.schema)
        .option("basePath", out_path)
        .parquet(*(f"{out_path}/bucket={b}" for b in sorted(buckets)))
    )
    manifest = (
        written.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_errors"
            ),
            _xor_fold_sha().alias("bytes_hash"),
        )
        .select(
            "bucket",
            F.lit(run_id).alias("run_id"),
            "row_count",
            "n_errors",
            "bytes_hash",
            F.current_timestamp().alias("committed_at"),
        )
    )
    manifest.write.mode("append").parquet(manifest_path)


def diff_extractions(old: DataFrame, new: DataFrame) -> DataFrame:
    """Run-to-run extraction diff — the operational check behind the
    byte-identity contract: before promoting a new EXTRACTOR_VERSION,
    compare its output against the previous run per document and
    quantify what changed (reference analogue: re-running /ocr and
    eyeballing result.txt; here it is one join).

    Output per url: status ∈ {'same','diff','only_old','only_new'} plus
    both text_sha256 hashes ('' sentinel, never NULL-mixed). Scale shape: a single
    full-outer equi-join on the url — rows are (url, 64-hex) shorts,
    extracted text itself never moves. Aggregate downstream
    (groupBy('status').count()) for the promotion gate.
    """
    # presence markers, NOT hash nullability: a run may legitimately
    # carry a NULL hash for a key (e.g. a failed extraction) — that key
    # is still PRESENT, and pairing it with the other run must be
    # 'diff', never 'only_*'. NULL hashes coalesce to '' before compare.
    o = old.select(
        F.col("url"),
        F.coalesce(F.col("text_sha256"), F.lit("")).alias("old_sha"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col("url"),
        F.coalesce(F.col("text_sha256"), F.lit("")).alias("new_sha"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url",
        F.coalesce("old_sha", F.lit("")).alias("old_sha"),
        F.coalesce("new_sha", F.lit("")).alias("new_sha"),
        F.when(F.col("_in_old").isNull(), "only_new")
        .when(F.col("_in_new").isNull(), "only_old")
        .when(F.col("old_sha") == F.col("new_sha"), "same")
        .otherwise("diff")
        .alias("status"),
    )
