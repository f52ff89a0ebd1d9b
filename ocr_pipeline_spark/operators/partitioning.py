"""Hot-domain detection and salting for a domain-keyed repartition.

Off the extraction job's path (it keys on hash(url), which spreads hot
domains with no salt): the ``p_hot_domains`` diagnostic and the
benchmark's partitioning layer use these. AQE's skew handling only
rewrites skewed *joins/aggregations*, not a skewed ``repartition`` feeding
``mapInPandas``, so salting a domain key is explicit logic:

1. a cheap pre-pass aggregates ROW counts per domain — it scans the url
   column only. (Counting payload *bytes* would be more precise but
   ``length(html)`` forces reading the full binary column — a whole-corpus
   IO pass at 100 TB. Row count over a pruned scan is the right
   cost/precision trade.);
2. domains above ``HOT_SHARE`` of the rows (at most ``MAX_HOT`` of them)
   get ``NSALT``-way salt derived from hash(url) — deterministic, so
   per-url completeness is preserved (every url still lands on exactly
   one partition);
3. everything else salts to 0, keeping domain locality for the cold tail.

At 10^12 docs the pre-pass is a trivial aggregation; hot_domains is a tiny
driver-side list (broadcast into the expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["domain_of", "find_hot_domains", "salted_repartition"]

HOT_SHARE = 0.05
MAX_HOT = 64
NSALT = 16


def domain_of(url_col):
    """https://host/path → host (pure built-ins: stays in codegen)."""
    return F.parse_url(url_col, F.lit("HOST"))


def find_hot_domains(pages: DataFrame) -> list[str]:
    """Domains holding more than ``HOT_SHARE`` of the rows, largest first,
    at most ``MAX_HOT``. A url-only pruned scan — the 100 TB-safe
    choice."""
    stats = (
        pages.select(
            domain_of(F.col("url")).alias("domain"),
            F.lit(1).cast("long").alias("w"),
        )
        .groupBy("domain")
        .agg(F.sum("w").alias("w"))
    )
    total = stats.agg(F.sum("w")).first()[0] or 0
    if not total:
        return []
    rows = (
        stats.filter(F.col("w") > HOT_SHARE * total)
        .orderBy(F.desc("w"))
        .limit(MAX_HOT)
        .collect()
    )
    return [r["domain"] for r in rows if r["domain"] is not None]


def salted_repartition(
    pages: DataFrame,
    num_partitions: int,
    hot_domains: list[str] | None = None,
) -> DataFrame:
    """Repartition by hash(domain, salt): cold domains stay co-located
    (salt 0); hot domains spread over ``NSALT`` buckets keyed by hash(url)
    so one domain can't pin a partition. Deterministic in the data only —
    output is independent of input partitioning (north-rule determinism)."""
    if not hot_domains:
        return pages.repartition(num_partitions, F.hash(F.col("url")))
    domain = domain_of(F.col("url"))
    salt = F.when(
        domain.isin(list(hot_domains)), F.pmod(F.hash(F.col("url")), F.lit(NSALT))
    ).otherwise(F.lit(0))
    return pages.repartition(num_partitions, F.hash(domain, salt))
