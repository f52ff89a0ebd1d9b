"""Distributed Lloyd's k-means over embedding vectors — EXACT
fixed-point arithmetic, so the whole iterative algorithm is
value-checked cross-engine (`q: ml_kmeans_cells`).

Classic distributed k-means is float math whose per-partition summation
order makes centroids run-dependent; this implementation quantizes each
component to a scaled bigint (floor(x·10^6 + 0.5) — float multiply and
floor are IEEE-identical everywhere) and does every subsequent step in
integer arithmetic: squared L2 distances are bigint folds, the argmin
tie-breaks on cell id, and centroid updates are truncating integral
means (the engines' `div` semantics — NOT Python's floor `//`, which
differs on negatives). Integer addition is commutative-exact, so
partitioning cannot change any result bit.

This is the honest trainer behind an IVF index (similarity.ivf_topk
ships with md5-random centroids as its zero-training baseline): run
``kmeans_assign`` to learn data-adapted cells.

Scale shape (10^9+ vectors):
- the quantized table is localCheckpoint-ed once (id + dim bigints) and
  re-read by every iteration — no repeated parquet decode;
- assignment is scan-local: k distance folds against centroid LITERALS
  (k·dim constants broadcast in the plan itself);
- the update shuffles (cell, dim, partial sums) — map-side combined to
  ≤ k·dim rows per partition — and collects k·dim bigints to the
  driver per round (the bpe_train bounded-collect precedent);
- iterations are driver-side (the dup_clusters iterative shape).

An emptied cell raises (deterministic given the input): callers pick
k ≪ n. ``iters`` counts update rounds; the returned assignment uses
the final centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["KM_CELLS", "KM_ITERS", "KM_SCALE", "kmeans_assign", "kmeans_centroids"]

KM_SCALE = 1_000_000
# Default codebook: KM_CELLS cells after KM_ITERS update rounds.
KM_CELLS = 8
KM_ITERS = 3


def _trunc_div(s: int, n: int) -> int:
    """Truncate-toward-zero integer division — Spark `div` / DuckDB `//`
    semantics (Python's // floors, differing on negatives)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def _quantized(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * KM_SCALE + F.lit(0.5)
            ).cast("long"),
        ).alias("v"),
    )


def _dist2(vcol: Column, centroid: list[int]) -> Column:
    arr = F.array(*[F.lit(int(c)).cast("long") for c in centroid])
    return F.aggregate(
        F.zip_with(vcol, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign(q: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    choice = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2(F.col("v"), cents[c]).alias("d"),
                    F.lit(c).cast("int").alias("cell"),
                )
                for c in sorted(cents)
            ]
        )
    )
    return q.select("vec_id", "v", choice.getField("cell").alias("cell"))


def kmeans_centroids(
    emb: DataFrame,
    k: int = KM_CELLS,
    iters: int = KM_ITERS,
) -> dict[int, list[int]]:
    """Train and return the fixed-point centroid table
    {cell: [dim bigints]}. Init = the quantized vectors of the k
    smallest ids (deterministic, engine-portable)."""
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0: {k}, {iters}")
    q = _quantized(emb).localCheckpoint(eager=True)
    init = q.filter(F.col("vec_id") < k).collect()
    if len(init) != k:
        raise ValueError(
            f"init needs ids 0..{k - 1} present, found {len(init)}"
        )
    cents = {int(r["vec_id"]): [int(x) for x in r["v"]] for r in init}
    for _ in range(iters):
        assigned = _assign(q, cents)
        rows = (
            assigned.select(
                "cell", F.posexplode("v").alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum("val").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["dim"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        if len(by_cell) != k:
            empty = sorted(set(cents) - set(by_cell))
            raise ValueError(
                f"cells {empty} lost all members; pick a smaller k"
            )
        cents = {
            c: [
                _trunc_div(*dims[d]) for d in sorted(dims)
            ]
            for c, dims in by_cell.items()
        }
    return cents


def kmeans_assign(
    emb: DataFrame,
    k: int = KM_CELLS,
    iters: int = KM_ITERS,
) -> DataFrame:
    """(vec_id, cell) assignment under the trained centroids — ties on
    distance go to the smallest cell id (exact, so ties are real and
    must break identically everywhere)."""
    cents = kmeans_centroids(emb, k, iters)
    return _assign(_quantized(emb), cents).select("vec_id", "cell")
