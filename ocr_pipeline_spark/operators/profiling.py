"""Table profiling: ANALYZE-style per-column statistics in one scan.

The metadata pass a 100 TB ingest runs before anything else — row
count, null counts, exact distinct counts, min/max per column — as a
single aggregate over one corpus scan (Spark's multi-count_distinct
EXPAND multiplies agg-side rows by the column count, but the exchange
carries only the tiny aggregate state, never payloads). Output is long
format via ``stack``: one row per column.

min/max are cast to string for a uniform schema; both engines compare
strings bytewise (UTF8String binary ordering / DuckDB binary
collation), so the values are engine-portable. All-NULL columns
coalesce to '' (never NULL-mixed output columns — CLAUDE.md recipe).
`q: meta_profile` value-checks the whole pass against DuckDB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["corpus_report", "profile_table"]


def profile_table(df: DataFrame) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)
    for every column, computed in ONE aggregate pass."""
    cols = list(df.columns)
    if not cols:
        raise ValueError("profile_table needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate column names: {cols}")
    for c in cols:
        # names are interpolated into the stack() SQL string below —
        # reject anything that could break out of the quoting rather
        # than silently evaluating a different expression
        if not re.fullmatch(r"[A-Za-z0-9_.\- ]+", c):
            raise ValueError(
                f"column name {c!r} not profilable (quote/backtick "
                "characters would break the generated stack() SQL)"
            )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"_null_{c}"),
            F.count_distinct(F.col(c)).cast("long").alias(f"_nd_{c}"),
            F.coalesce(F.min(F.col(c)).cast("string"), F.lit("")).alias(
                f"_min_{c}"
            ),
            F.coalesce(F.max(F.col(c)).cast("string"), F.lit("")).alias(
                f"_max_{c}"
            ),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `_null_{c}`, `_nd_{c}`, `_min_{c}`, `_max_{c}`"
        for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_value, max_value)"
        ),
        F.col("_n").alias("n_rows"),
    ).select(
        "col_name", "n_rows", "n_nulls", "n_distinct",
        "min_value", "max_value",
    )


def corpus_report(df: DataFrame) -> DataFrame:
    """The dataset-card numbers a corpus release ships — doc/token
    totals, quality rate, exact-duplicate count, lang/source breadth —
    as (metric, value) rows from ONE corpus scan (staged narrow
    derivations + a single aggregate, stacked to long form; all values
    bigint-exact so the driver oracle checks them verbatim)."""
    from .textstats import annotate_quality, fingerprint

    ann = annotate_quality(df)
    staged = ann.select(
        "lang",
        "source",
        F.col("n_tokens").cast("long").alias("n_toks"),
        "is_quality",
        fingerprint(F.col("text")).alias("fp"),
    )
    one = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("is_quality"), 1).otherwise(0))
        .cast("long")
        .alias("n_quality"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("fp")))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.count_distinct(F.col("lang")).cast("long").alias("n_langs"),
        F.count_distinct(F.col("source")).cast("long").alias("n_sources"),
    )
    metrics = (
        "n_docs", "n_tokens", "n_quality", "n_exact_dup_docs",
        "n_langs", "n_sources",
    )
    stack_args = ", ".join(f"'{m}', {m}" for m in metrics)
    return one.select(
        F.expr(
            f"stack({len(metrics)}, {stack_args}) AS (metric, value)"
        )
    )
