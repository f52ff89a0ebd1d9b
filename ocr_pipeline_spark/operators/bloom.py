"""Deterministic Bloom-filter membership sketch — the constant-space
"have we seen this key?" primitive of a web-scale pipeline (URL-seen
tests in crawl frontiers, benchmark-ID membership for decontamination
pre-filters, incremental-ingest dedup against a sealed corpus).

Reference analogy: the reference pipeline re-checks document membership
by exact id lookups against its result store (pipeline/app.py job-status
map); the Bloom filter is the scale substitute — a fixed m-bit summary
of a billion-key set that answers "definitely new" exactly and "maybe
seen" with a tunable false-positive rate, no store roundtrip.

Spark has a private BloomFilterAggregate (runtime join pruning) but no
public, portable one — and its hash (xxhash64) differs from every other
engine. This module is the engine-portable version, on the repo's one
md5-48-bit hash recipe (hashing.md5_int):

    position_i(v) = hash48(v || '#b' || i)  mod  m_bits      i < n_hashes

The filter STATE is the packed bitmap: rows (word_idx, word) where
``word`` holds 32 filter bits (32, not 64: ``1 << 31`` stays positive in
a signed BIGINT on both engines — no sign-bit portability trap, and
every output column is driver-hash-safe bigint). A probe key is "maybe
member" iff all of its n_hashes bits are set; a member's bits are all
set by construction, so NO false negatives — the property the tests pin.

Scale shape (10^9+ member keys):
- build: one scan computes all n_hashes positions per key; only bigint
  POSITIONS cross the shuffle (distinct, then bit_or-packed per word) —
  key text never leaves the scan stage. State size is m_bits/32 rows
  regardless of input size, and two filters with the same (m, k) merge
  by ``bit_or`` on word_idx — partitions / days / cluster nodes combine
  without rescanning (the mergeability that makes a sketch a sketch).
- probe: the packed state (m_bits/32 rows — 32 MB of words summarizes
  m=2^33 bits) is broadcast; each probe key does n_hashes bit tests via
  a BroadcastHashJoin on word_idx. No shuffle of the probe side at all
  beyond the final per-key all-bits-set aggregate, which moves
  (key, 0/1) pairs.
- sizing: fp ≈ (1 - e^(-k·n/m))^k; for n=10^9 keys, m=2^33, k=3 →
  fp ≈ 2.4%. The query below uses a deliberately small m so the
  false-positive path is exercised (non-vacuous) at test scale.

DuckDB oracle: ``sk_bloom`` in __spark_entry__.py replays the identical
md5 positions, 32-bit packing, and bit tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import md5_int

__all__ = [
    "bloom_build",
    "bloom_probe",
    "bloom_gate",
]

WORD_BITS = 32


def _positions(value: Column, m_bits: int, n_hashes: int) -> Column:
    """Array of the key's n_hashes bit positions in [0, m_bits).

    InferFiltersFromGenerate note (CLAUDE.md): a bare ``explode`` over
    this array is currently safe ONLY because Spark skips filter
    inference for CreateArray inputs (SPARK-33544) — if this ever stops
    being a literal ``F.array`` constructor, the inferred ``size()>0``
    filter would re-inline the md5 tree per element. bloom_build uses
    explode_outer+isNotNull (house rule); bloom_probe keeps the bare
    explode because a NULL probe key must still yield an output row
    (all-null positions → maybe_member=false, not row loss) — its plan
    is pinned free of size()>0 filters in tests/test_plans.py."""
    return F.array(
        *[
            md5_int(F.concat(value, F.lit(f"#b{i}"))) % m_bits
            for i in range(n_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Build the packed filter over the (string) keys of ``value_col``.

    Output: (word_idx, word) bigints — only word indexes holding at
    least one set bit are materialized (absent word == all zeros; the
    probe side coalesces). NULL keys are excluded (a NULL is not a key).
    """
    if m_bits % WORD_BITS != 0:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}")
    pos = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.explode_outer(
                _positions(F.col(value_col), m_bits, n_hashes)
            ).alias("pos")
        )
        .filter(F.col("pos").isNotNull())
        .distinct()
    )
    return pos.groupBy(
        (F.col("pos") / WORD_BITS).cast("long").alias("word_idx")
    ).agg(
        F.bit_or(
            F.expr(
                f"shiftleft(cast(1 as bigint),"
                f" cast(pos % {WORD_BITS} as int))"
            )
        ).alias("word")
    )


def bloom_probe(
    df: DataFrame,
    words: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Test every row's key against a built filter.

    Output: input columns + ``maybe_member`` boolean. Guarantee: a key
    that was in the build input is always true; a true for a non-member
    is a false positive at the filter's designed rate.

    Scale contract: the final per-key aggregate regroups df's columns —
    pass SHORT columns (ids, labels), never payload text (the house
    payloads-never-shuffle rule). The position column is staged as its
    own projection (no logical CSE — word_idx and bit both derive from
    it), and the join key is coalesce-wrapped per the inferred-isnotnull
    rule (CLAUDE.md).

    Input constraints (caller's responsibility):
    - df's rows must be DISTINCT over ``df.columns``: the final
      groupBy(*df.columns) collapses exact-duplicate rows to one output
      row (probe a deduplicated key frame, or include a unique id
      column — output cardinality then matches input).
    - ``pos``, ``_widx``, ``_bit``, ``word``, ``word_idx`` are reserved
      intermediate names: a df already carrying one of them would
      collide with the staged projections.
    """
    reserved = {"pos", "_widx", "_bit", "word", "word_idx"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bloom_probe reserves column names {sorted(clash)}; "
            "rename them on the probe frame first"
        )
    probes = df.select(
        "*",
        F.explode(
            _positions(F.col(value_col), m_bits, n_hashes)
        ).alias("pos"),
    )
    tested = probes.join(
        F.broadcast(words).withColumnRenamed("word_idx", "_widx"),
        F.coalesce(
            (F.col("pos") / WORD_BITS).cast("long"), F.lit(-1)
        )
        == F.col("_widx"),
        "left",
    ).select(
        *df.columns,
        (
            F.expr(
                f"coalesce(shiftright(word, cast(pos % {WORD_BITS} as int))"
                " & 1, 0)"
            )
        ).alias("_bit"),
    )
    return tested.groupBy(*df.columns).agg(
        (F.min("_bit") == 1).alias("maybe_member")
    )


def bloom_gate(
    increment: DataFrame,
    known_keys: DataFrame,
    value_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Incremental-ingest dedup with a Bloom pre-filter: classify every
    increment row against the already-ingested key set.

    Output: increment columns + ``status`` in {'new', 'dup', 'fp'} —
    'new' rows missed the filter (definitely unseen: no false negatives,
    so NO exact lookup needed), 'dup' rows hit the filter AND the exact
    set, 'fp' rows hit the filter but not the set (false positives —
    kept, they are new). ``known_keys`` is a one-column (value_col)
    frame of the sealed corpus's keys.

    Why this beats the plain anti-join at 10^12 known keys: the exact
    semi-join must shuffle EVERY increment key against the full known
    store; the gate sends only the filter hits there — at a designed 1%
    fp rate and a mostly-new increment, ~99% of rows skip the join
    entirely, and the filter itself is a fixed m/32-row broadcast built
    once per corpus seal (bit_or-mergeable on append). The curate_job
    fingerprint recipe (coalesce sentinels on the join key) applies on
    the exact path.
    """
    probed = bloom_probe(
        increment, bloom_build(known_keys, value_col, m_bits, n_hashes),
        value_col, m_bits, n_hashes,
    )
    known = known_keys.select(
        F.coalesce(F.col(value_col), F.lit("#null-known")).alias("_k")
    ).distinct()
    maybe = probed.filter(F.col("maybe_member"))
    confirmed = maybe.join(
        known,
        F.coalesce(F.col(value_col), F.lit("#null-inc")) == F.col("_k"),
        "left",
    ).select(
        *increment.columns,
        F.when(F.col("_k").isNotNull(), F.lit("dup"))
        .otherwise(F.lit("fp"))
        .alias("status"),
    )
    fresh = probed.filter(~F.col("maybe_member")).select(
        *increment.columns, F.lit("new").alias("status")
    )
    return fresh.unionByName(confirmed)
