"""Table-format facade: Iceberg when the runtime is on the classpath,
parquet emulation otherwise.

The north rule targets Iceberg tables (atomic snapshot commits, partition
pruning via table metadata, one transaction for output + manifest). This
sandbox has no iceberg-spark-runtime jar and no network, so the facade
degrades to the parquet emulation the lineage layer documents
(ocr_pipeline_spark/operators/lineage.py): output written first,
manifest last — write-ahead in the safe direction — with dynamic
partition overwrite standing in for snapshot-level idempotence.

On a real deployment, enable Iceberg by launching with:

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=<warehouse-uri>

and pass table identifiers like ``lake.db.pages`` instead of paths —
``read_table``/``write_table`` dispatch on whether the target parses as a
catalog identifier with an Iceberg catalog configured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession

__all__ = [
    "iceberg_available",
    "read_table",
    "upsert_table",
    "write_bucketed",
    "write_table",
]

_FORMAT = "iceberg"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _is_catalog_ident(spark: SparkSession, target: str) -> bool:
    if "/" in target or target.startswith("file:"):
        return False
    head = target.split(".", 1)[0]
    return (
        spark.conf.get(f"spark.sql.catalog.{head}", None) is not None
        and iceberg_available(spark)
    )


def read_table(spark: SparkSession, target: str) -> DataFrame:
    """Scan ``target``: Iceberg table identifier or parquet path."""
    if _is_catalog_ident(spark, target):
        return spark.read.format(_FORMAT).load(target)
    return spark.read.parquet(target)


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> None:
    """Commit ``df`` to ``target``. Iceberg: atomic snapshot append/
    overwrite. Parquet: plain write (callers needing idempotent re-runs
    use dynamic partition overwrite, see lineage.py)."""
    spark = df.sparkSession
    writer: DataFrameWriter = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if _is_catalog_ident(spark, target):
        writer.format(_FORMAT).saveAsTable(target)
    else:
        writer.parquet(target)


def upsert_table(
    spark: SparkSession,
    updates: DataFrame,
    target: str,
    key_cols: list[str],
) -> None:
    """MERGE-style upsert: rows in ``updates`` replace same-key rows in
    ``target``; new keys append. Last-writer-wins within ``updates`` is
    the CALLER's job (pass a deduped frame — enforced here with a loud
    error rather than a silent arbitrary pick).

    Iceberg path: ``MERGE INTO`` — the engine rewrites only the files
    containing matched keys (merge-on-read/copy-on-write per table
    config), which is the 100 TB shape. Parquet emulation: anti-join
    the existing table against the update keys, union, rewrite — a
    full-table rewrite, correct but O(table); the docstring-level
    contract is that production deployments run the Iceberg path.
    """
    if not key_cols:
        raise ValueError("upsert_table needs at least one key column")
    n_dupes = updates.groupBy(*key_cols).count().filter("count > 1")
    if n_dupes.limit(1).count() > 0:
        raise ValueError(
            f"updates contain duplicate keys on {key_cols}; "
            "dedup before upserting (last-writer-wins is not guessed)"
        )
    if _is_catalog_ident(spark, target):
        # unique view name + drop: a fixed name would let concurrent
        # upserts on one session clobber each other's source mid-MERGE
        import uuid

        view = f"_upsert_{uuid.uuid4().hex}"
        updates.createOrReplaceTempView(view)
        try:
            cond = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            spark.sql(
                f"MERGE INTO {target} t USING {view} s ON {cond} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            spark.catalog.dropTempView(view)
        return
    try:
        existing = spark.read.parquet(target)
        existing_exists = True
    except Exception:
        existing_exists = False
    if existing_exists:
        kept = existing.join(
            updates.select(*key_cols), key_cols, "left_anti"
        )
        merged = kept.unionByName(updates.select(*existing.columns))
    else:
        merged = updates
    # parquet has no atomic swap: stage then point the final write at
    # the target (localCheckpoint materializes BEFORE the overwrite so
    # the self-referencing read-modify-write cannot truncate its input)
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(
        target
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) by
    ``bucket_col`` as a managed table — the co-location contract that
    makes later equi-joins on that column SHUFFLE-FREE: two tables
    bucketed the same way sort-merge join with zero Exchange, the plan
    property that matters most at 100 TB (every daily join against a
    10^12-row corpus stops paying a corpus-wide shuffle).

    Parquet/warehouse form of the Iceberg ``bucket(n, col)`` partition
    transform; pinned by tests/test_plans.py::test_bucketed_join_has_no
    _exchange. Sort within buckets (``sort_col``) additionally removes
    the join-side Sort.

    The repartition below is the CLAUDE.md writes rule applied to
    bucketBy: without it every upstream task emits a file per bucket
    it sees (tasks × n_buckets shards — the classic bucketBy
    small-files explosion); repartitioning on the bucket column first
    (same Murmur3 hash as the bucket router) yields one file per
    bucket per run."""
    from pyspark.sql import functions as F

    writer = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
