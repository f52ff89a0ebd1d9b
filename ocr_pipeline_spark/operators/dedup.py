"""Deduplication operators: exact, MinHash(+LSH), SimHash, n-gram Jaccard.

Core components of a web-scale training-data pipeline (dedup before
training). Everything below is Column expressions — JVM-side,
shuffle-conscious — except the SimHash signature, an Arrow-batched numpy
vote:

- exact:    one groupBy on a 16-hex fingerprint (map-side partial agg);
- MinHash:  signatures computed scan-local (no shuffle), candidate pairs
            via an equi-join on LSH band keys — the band join is the ONLY
            shuffle, and its keys are short strings;
- SimHash:  60-bit signature from md5-derived token hashes, bit-vote fold
            (scan-local mapInPandas; the ``dd_simhash`` DuckDB oracle is
            its definition);
- Jaccard:  exact verification on candidate pairs only (never all-pairs).

At 10^12 docs: the LSH band join shuffles O(bands × docs) short rows
instead of O(docs²) comparisons; band keys hash-distribute evenly by
construction (they are hashes), so no salting is needed; the Jaccard
verify joins shingle arrays only for the tiny candidate set.

Hashing is md5-based (not Spark's xxhash64) so the DuckDB oracle can
reproduce signatures bit-for-bit.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.bpe import norm_words
from .hashing import md5_hex, md5_int, md5_int_py
from .textstats import _staged_tokens, fingerprint, norm_text, tokens

__all__ = [
    "boilerplate_scrub",
    "cross_source_chunks",
    "template_report",
    "chunk_dedup",
    "exact_dedup",
    "shingles",
    "shingle_sets",
    "MINHASH_P",
    "minhash_perm_constants",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_verify",
    "dup_clusters",
    "dup_spans",
    "simhash_signatures",
    "simhash_candidate_pairs",
    "containment_pairs",
]

DEFAULT_NUM_HASHES = 8
DEFAULT_SHINGLE = 3
# Tokens per chunk of the chunk-level dedup and boilerplate operators.
CHUNK_TOKENS = 10
# simhash_candidate_pairs: SIMHASH_BITS-bit signatures split into
# SIMHASH_BLOCKS blocks; pairs within SIMHASH_MAX_HAMMING bits are kept.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 6
SIMHASH_MAX_HAMMING = 3
# containment_pairs drops fingerprints held by more documents than this.
CONTAINMENT_MAX_FP_DF = 20

# Universal-hash-family modulus for MinHash permutations (2^31 - 1, prime).
# a*h+b stays under 2^62 (a, h < 2^31) — no bigint overflow in either engine.
MINHASH_P = 2147483647


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """(a_i, b_i) for the permutation family h_i(x) = (a_i*x + b_i) mod P —
    md5-derived so both engines (and any future one) regenerate them."""
    return [
        (
            md5_int_py(f"mh_a_{i}") % (MINHASH_P - 1) + 1,
            md5_int_py(f"mh_b_{i}") % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one canonical doc per distinct content
    fingerprint. Output: (fingerprint, n_docs, canonical_doc_id)."""
    return (
        docs.select(
            fingerprint(F.col("text")).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def _shingles_from(t: Column, norm: Column, n: int) -> Column:
    """Shingles from precomputed token-array and normalized-text columns —
    lets callers stage tokenization in its own projection so the (costly,
    CodegenFallback) tokenize tree is evaluated once per row, not once per
    reference (Catalyst has no logical-plan CSE)."""
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )
    )
    return F.when(F.size(t) < n, F.array(norm)).otherwise(grams)


def shingles(col: Column, n: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word n-gram shingles of normalized text; docs shorter than
    n words use the whole normalized text as their single shingle."""
    return _shingles_from(tokens(col), norm_text(col), n)


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, _sh) with tokenization and shingling staged as separate
    projections (see _shingles_from)."""
    return _staged_tokens(docs, "text").select(
        "doc_id",
        _shingles_from(F.col("_t"), F.col("_n"), DEFAULT_SHINGLE).alias("_sh"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signature: bigint columns
    sig_0..sig_{DEFAULT_NUM_HASHES-1} over DEFAULT_SHINGLE-word shingles,
    sig_i = min over shingles of (a_i * h(shingle) + b_i) mod P, where
    h = md5_int(shingle) mod P (DuckDB:
    ('0x' || substr(md5(s), 1, 12))::BIGINT % P).

    Scale design: the md5 shingle hash is computed ONCE per shingle; each
    of the signatures is 3 integer ops per shingle on top —
    the classic permutation family, ~DEFAULT_NUM_HASHES× cheaper than hashing
    every shingle per signature. Staged as three projections (shingles →
    hashes → mins) because higher-order expressions are CodegenFallback
    and Catalyst has no logical CSE — a single select would inline the
    whole shingle tree into every sig_i. CollapseProject keeps the split
    (non-cheap, multiply-referenced producers)."""
    sh_df = shingle_sets(docs)
    h_df = sh_df.select(
        "doc_id",
        F.transform(F.col("_sh"), lambda s: md5_int(s) % MINHASH_P).alias("_h"),
    )
    consts = minhash_perm_constants(DEFAULT_NUM_HASHES)

    def perm(a: int, b: int):
        # closure (not default args): PySpark derives lambda arity from
        # the signature, so extra defaulted params would break transform
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P

    return h_df.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("_h"), perm(a, b))).alias(f"sig_{i}")
            for i, (a, b) in enumerate(consts)
        ],
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """Band the signature (bands × rows_per_band hashes), join docs that
    collide in ANY band. Output: (doc_a, doc_b, n_shared_bands).

    The join key (band_idx, band_key) is a hash — uniformly distributed,
    so the shuffle is skew-free by construction."""
    band_rows = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        md5_hex(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"sig_{b * rows_per_band + r}").cast(
                                        "string"
                                    )
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def jaccard_verify(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs (the verify stage after
    LSH recall). Output ints + a division of identical ints → identical
    doubles across engines."""
    sh = shingle_sets(docs).withColumnRenamed("_sh", "sh")
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").alias("sa"), "doc_a")
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh"), F.col("sh_b")))
    union = F.size(F.col("sh")) + F.size(F.col("sh_b")) - inter
    return j.select(
        "doc_a",
        "doc_b",
        inter.alias("n_intersect"),
        union.alias("n_union"),
        F.round(inter.cast("double") / union.cast("double"), 4).alias("jaccard"),
    )


_LOG = logging.getLogger(__name__)


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate-cluster assignment: connected components over candidate
    pairs via hash-min label propagation (each doc converges to the
    minimum doc_id of its component — the canonical representative).

    Output: (doc_id, cluster_id) for every doc appearing in ``pairs``.

    Iterative DataFrame algorithm (the shape Spark lacks a built-in for):
    each round (1) takes min(own label, neighbors' labels) over the
    symmetrized edge list, then (2) pointer-jumps (label := label of my
    label — path compression), so convergence is O(log diameter), not
    O(diameter); ``localCheckpoint`` truncates the plan per round so
    lineage doesn't grow with iterations. The loop exits early on
    convergence — checked with a limit(1).count(), never a collect.

    The ``max_iter`` cap is never silent: pointer jumping converges in
    O(log diameter) rounds (a component would need diameter > 2^20 to
    exhaust the default), but if the cap IS hit the labels may still
    split a component, so a warning is logged."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("n_label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("n_label").alias("n_min"))
        )
        m1 = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("n_min"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        # pointer jump: label := label(label) — halves path lengths
        parents = m1.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("_parent"),
        )
        updated = (
            m1.join(parents, "cluster_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("_parent"), F.col("cluster_id")).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.join(
                labels.withColumnRenamed("cluster_id", "_old"), "doc_id"
            )
            .filter(F.col("cluster_id") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        _LOG.warning(
            f"dup_clusters: label propagation did not converge within "
            f"max_iter={max_iter} rounds; returned cluster_ids may still "
            f"split a connected component (raise max_iter)"
        )
    return labels


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash of whitespace tokens → (doc_id, simhash).

    Tokens are the engine tokenizer's (``kernels.bpe.norm_words``, the
    Python twin of ``textstats.tokens``); each token hashes to its first
    15 md5 hex chars (``md5_int_py(t, 15)``). Bit i of the signature is
    set when more tokens have bit i set than not (ties count as 0). The
    ``dd_simhash`` DuckDB oracle is the definition; NULL text signs like
    '' there and here.

    Arrow/numpy: the per-bit vote is one vectorized matrix reduction per
    document instead of 60×tokens interpreted lambda steps."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(60, dtype=np.uint64)

    def sign(t: str | None) -> int:
        hs = np.array([md5_int_py(tok, 15) for tok in norm_words(t)], dtype=np.uint64)
        bits = (hs[:, None] >> shifts) & np.uint64(1)
        votes = 2 * bits.sum(0, dtype=np.int64) - len(hs)
        return int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sigs = np.fromiter(
                (sign(t) for t in pdf["text"]), dtype=np.int64, count=len(pdf)
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "simhash": sigs}
            )

    return docs.select("doc_id", "text").mapInPandas(
        fn, schema="doc_id long, simhash long"
    )


def simhash_table_combos() -> list[tuple[int, ...]]:
    """The block-index combinations keying each LSH table: every
    (SIMHASH_BLOCKS - SIMHASH_MAX_HAMMING)-subset of the block indices.
    A pair with hamming ≤ SIMHASH_MAX_HAMMING differs in at most that
    many blocks, so it AGREES on some such subset → is caught by that
    table (recall exactly 1 at the threshold). Shared by the Spark
    operator and the DuckDB oracle builder."""
    import itertools

    return list(
        itertools.combinations(
            range(SIMHASH_BLOCKS), SIMHASH_BLOCKS - SIMHASH_MAX_HAMMING
        )
    )


def simhash_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Multi-table bit-block LSH over SimHash signatures → verified
    near-dup pairs (doc_a, doc_b, hamming). The Manku-Jain-Sarma design
    ("Detecting near-duplicates for web crawling", WWW'07): the
    ``SIMHASH_BITS``-bit signature is split into ``SIMHASH_BLOCKS``
    contiguous blocks; one table per (blocks - max hamming)-subset of
    blocks, keyed on the CONCATENATION of that subset's block values.

    Why not naive single-block bands: a 60/4 = 15-bit band key has a
    2^15 keyspace — at 10^12 docs every bucket holds ~3×10^7 docs and
    the within-bucket join goes quadratic. Here the table key is
    (6 - 3) × (60/6) = 30 bits, so
    buckets stay small at web scale at the cost of C(6,3) = 20 tables —
    the published trade-off, and each emitted row is (doc_id, 2 shorts,
    1 long): no text ever moves.

    Verify: popcount(xor(sig_a, sig_b)) ≤ SIMHASH_MAX_HAMMING — pure JVM
    expressions on the two 8-byte signatures. The equi-join key
    (table_idx, table_key) is a slice of a hash → uniform, skew-free
    shuffle; candidate volume is O(key collisions), never O(N²).
    Companion of ``lsh_candidate_pairs`` (MinHash/Jaccard regime).
    """
    bits_per = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bits_per) - 1

    def block(i: int) -> Column:
        return F.shiftright(F.col("simhash"), i * bits_per).bitwiseAND(
            F.lit(mask)
        )

    def table_key(combo: tuple[int, ...]) -> Column:
        key = block(combo[0])
        for i in combo[1:]:
            key = F.shiftleft(key, bits_per).bitwiseOR(block(i))
        return key

    combos = simhash_table_combos()
    # NULL signatures (null text) are dropped HERE, explicitly: the
    # self-join key is derived from the nullable simhash column, and
    # Catalyst's inferred isnotnull(table_key) would otherwise push the
    # shift/or tree into Filters on both sides (CLAUDE.md derived-join-
    # key rule; cheap here, but the filter also keeps null rows from
    # ever reaching the explode)
    sigs = sigs.filter(F.col("simhash").isNotNull())
    table_rows = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_idx"),
                        table_key(combo).alias("table_key"),
                    )
                    for t, combo in enumerate(combos)
                ]
            )
        ).alias("t"),
    ).select("doc_id", "simhash", "t.*")
    a = table_rows.alias("a")
    b = table_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.table_key") == F.col("b.table_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        # a pair can collide in several tables → dedup; hamming is
        # identical on every collision row, min() is just the reducer
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def dup_spans(
    docs: DataFrame, n: int = 8
) -> DataFrame:
    """Per-document duplicated-span coverage — the exact-substring-dedup
    measurement of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (arXiv:2107.06499), mapped Spark-first:
    instead of their corpus-global suffix array (a single-node
    construction), every ``n``-token window is hashed (48-bit md5, the
    engine-portable recipe) and a window is DUPLICATED when its hash
    occurs in >= 2 distinct documents. Per doc:

        (doc_id, n_tokens, dup_tokens, dup_bp)

    where dup_tokens = |union of duplicated [pos, pos+n) intervals| and
    dup_bp = 10000*dup_tokens div n_tokens. Curation reads dup_bp
    directly as a drop/trim signal (Lee et al. use n=50 BPE tokens; the
    default 8 whitespace tokens keeps small test corpora non-vacuous).
    Documents shorter than ``n`` tokens emit no windows (dup_bp 0).
    Same-doc repeats deliberately do NOT count (min!=max doc_id test):
    cross-document duplication is the dedup signal — intra-document
    repetition is ts_repetition's job.

    Scale shape (10^12 docs):
    - the gram stream is (doc_id, pos, gh) — ~20 bytes/row; text never
      crosses a shuffle (the containment_pairs shape);
    - duplicated-hash detection is min/max-per-key — one map-side
      partial agg, no count-distinct;
    - the dup-hash side is pre-aggregated to ONE row per hash before
      the join-back, so a corpus-ubiquitous n-gram (site boilerplate)
      contributes one join row, not df^2 fan-out — no ubiquity cap
      needed, unlike containment_pairs' pair join;
    - interval union is lead() over (doc_id, pos) — contributions
      min(n, next_pos - pos) — one hash shuffle on doc_id.
    Like containment_pairs, the gram stream is derived twice (dup-hash
    side + positions side): two scans of pruned (doc_id, text) beat
    materializing the gram stream corpus-wide.
    """
    from pyspark.sql.window import Window

    t_df = docs.select(F.col("doc_id"), tokens(F.col("text")).alias("_t"))
    # the gram-hash array staged as its own projection (no logical CSE;
    # the transform is the expensive multi-referenced producer)
    grams = F.when(
        F.size("_t") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_t") - n),
            lambda i: md5_int(F.array_join(F.slice(F.col("_t"), i + 1, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    h_df = t_df.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_tokens"),
        grams.alias("_h"),
    )
    # explode_outer + isNotNull per the InferFiltersFromGenerate rule
    g = h_df.select(
        "doc_id", F.posexplode_outer("_h").alias("pos", "gh")
    ).filter(F.col("gh").isNotNull())
    dup = (
        g.groupBy("gh")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("gh")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (
        g.join(dup, "gh")
        .select("doc_id", "pos")
        .withColumn("_nxt", F.lead("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("_nxt").isNull(), F.lit(n)).otherwise(
                    F.least(F.lit(n), F.col("_nxt") - F.col("pos"))
                )
            )
            .cast("long")
            .alias("dup_tokens")
        )
    )
    return (
        h_df.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.expr("(10000 * coalesce(dup_tokens, 0)) div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_bp"),
        )
    )


def chunk_dedup(docs: DataFrame) -> DataFrame:
    """Passage-level exact dedup (the C4/CCNet line-dedup analogue for
    corpora without line structure): split each document's normalized
    token stream into consecutive ``CHUNK_TOKENS``-token chunks, keep
    exactly one corpus-wide copy of every distinct chunk — the winner is the
    lexicographically smallest (doc_id, chunk_idx) — and reassemble each
    document from its surviving chunks in order.

    Output: (doc_id, dedup_text, n_chunks, n_kept).

    Scale shape (10^12 docs):
    - chunking + hashing are scan-local staged projections (no CSE in
      Catalyst — the token array is materialized once per stage);
    - the winner election shuffles ONLY (chash 16-hex, doc_id,
      chunk_idx) shorts — groupBy(chash) with map-side partial min;
    - chunk TEXT crosses exactly one exchange: the final doc_id
      reassembly join (chunk arrays rejoin their kept-index list).
      On a bucketed-by-doc_id table that join is co-located and
      shuffle-free; the winner side is (doc_id, sorted int list) —
      orders of magnitude smaller than the corpus.
    - the hash join key is md5-derived: wrapped non-nullable via the
      posexplode_outer/isNotNull staging, and chash itself is
      min()-aggregated, never filtered — no inferred-isnotnull
      re-inlining (CLAUDE.md derived-join-key rule).

    DuckDB oracle: __spark_entry__ replays the same chunking/election
    with row_number over (chash) — `q: dd_chunk_dedup`.
    """
    chunked, keyed = _chunk_stages(docs, CHUNK_TOKENS)
    winners = keyed.groupBy("chash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("w")
    )
    kept_lists = (
        keyed.join(winners, "chash")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("chunk_idx") == F.col("w.chunk_idx"))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("kept_idx"))
    )
    return _reassemble(chunked, kept_lists, "dedup_text")


def _chunk_stages(
    docs: DataFrame, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared chunking stages for chunk_dedup / boilerplate_scrub:
    ``chunked`` is (doc_id, chunks array<string>) — consecutive k-token
    chunks of the normalized token stream — and ``keyed`` is the
    exploded (doc_id, chunk_idx, chash 16-hex) short-key frame.
    """
    if k < 1:
        raise ValueError(f"chunk size must be >= 1, got {k}")
    staged = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    # chunk array: tokens[i*k : (i+1)*k] joined by ' '; tokens() is
    # never empty ('' normalizes to ['']), so the sequence bound
    # floor((n-1)/k) >= 0 always holds
    chunked = staged.select(
        "doc_id",
        F.transform(
            F.sequence(
                F.lit(0),
                F.floor((F.size("toks") - F.lit(1)) / F.lit(k)).cast("int"),
            ),
            lambda i: F.array_join(
                F.slice(F.col("toks"), i * F.lit(k) + F.lit(1), F.lit(k)),
                " ",
            ),
        ).alias("chunks"),
    )
    # lazy checkpoint (the tfidf/quality_scores precedent): keyed feeds
    # BOTH the chunk-hash election and the kept-index join — without it
    # the corpus is tokenized+chunked+hashed once per consumer. The
    # state is (doc_id, chunk_idx, 16-hex) shorts, never chunk text;
    # reassembly re-chunks from the source scan, so each consumer costs
    # two corpus scans, not three (pinned in test_plans.py).
    keyed = (
        chunked.select(
            "doc_id",
            F.posexplode_outer("chunks").alias("chunk_idx", "chunk"),
        )
        .filter(F.col("chunk").isNotNull())
        .select(
            "doc_id",
            "chunk_idx",
            md5_hex(F.col("chunk"), 16).alias("chash"),
        )
        .localCheckpoint(eager=False)
    )
    return chunked, keyed


def _reassemble(
    chunked: DataFrame, kept_lists: DataFrame, out_col: str
) -> DataFrame:
    """Rebuild each document from its surviving chunk indexes: left-join
    (doc_id, kept_idx sorted array<int>) back onto the chunk arrays and
    join the kept chunks in original order. A doc absent from
    ``kept_lists`` (every chunk removed) coalesces to '' / 0 kept.
    """
    return (
        chunked.join(kept_lists, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(
                F.filter(
                    F.col("chunks"),
                    lambda c, i: F.array_contains(
                        F.coalesce(
                            F.col("kept_idx"),
                            F.array().cast("array<int>"),
                        ),
                        i,
                    ),
                ),
                " ",
            ).alias(out_col),
            F.size("chunks").cast("long").alias("n_chunks"),
            F.size(
                F.coalesce(F.col("kept_idx"), F.array().cast("array<int>"))
            )
            .cast("long")
            .alias("n_kept"),
        )
    )


def boilerplate_scrub(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
    max_df: int = 2,
) -> DataFrame:
    """Ubiquitous-chunk boilerplate removal (the RefinedWeb/CCNet
    cross-document line-dedup rule re-expressed for corpora without
    line structure; Penedo et al. 2023, arXiv:2306.01116 §4.2): split
    each document's normalized token stream into consecutive ``k``-token
    chunks, compute every chunk's corpus DOCUMENT frequency, and drop a
    chunk from ALL documents — including its first occurrence — iff it
    appears in more than ``max_df`` distinct documents. Navigation
    bars, cookie banners and template footers shared across a site
    vanish corpus-wide; unique prose survives verbatim.

    Contrast with :func:`chunk_dedup`, which keeps exactly ONE winner
    copy of every duplicated chunk: the scrub keeps ZERO copies of
    chunks above the ubiquity threshold and every copy below it.

    Output: (doc_id, scrub_text, n_chunks, n_kept).

    Scale shape (10^12 docs): identical to chunk_dedup — chunking +
    hashing are scan-local staged projections; the document-frequency
    election shuffles ONLY (chash 16-hex, doc_id) shorts with map-side
    partial aggregation; the ubiquitous-hash set is tiny by definition
    (high-df chunks are few distinct hashes) and joins back as a
    left-anti equi-join on the 16-hex key; chunk text crosses exactly
    one exchange (the final doc_id reassembly join). The checkpointed
    ``keyed`` frame caps the plan at two corpus scans (pinned in
    test_plans.py).

    DuckDB oracle: __spark_entry__ replays the same chunking with a
    count(DISTINCT doc_id) HAVING clause — `q: dd_boilerplate`.
    """
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    chunked, keyed = _chunk_stages(docs, k)
    ubiquitous = (
        keyed.groupBy("chash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("chash")
    )
    kept_lists = (
        keyed.join(ubiquitous, "chash", "left_anti")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("chunk_idx")).alias("kept_idx"))
    )
    return _reassemble(chunked, kept_lists, "scrub_text")


def containment_pairs(
    docs: DataFrame,
    threshold_bp: int = 6000,
) -> DataFrame:
    """ASYMMETRIC containment detection over winnowing fingerprints —
    "document A is (mostly) contained in document B": quotes, truncated
    re-crawls, syndicated excerpts, prompt/completion leaks. Jaccard
    (symmetric) misses these: a 100-word quote inside a 10k-word page
    has tiny Jaccard but near-1.0 containment.

    containment_bp(src → dst) = 10000 · |fp(src) ∩ fp(dst)| div |fp(src)|

    over MOSS winnowing fingerprints (textstats.winnow_fingerprints:
    any shared token run of ≥ WINNOW_W+WINNOW_K-1 tokens shares a
    fingerprint, so a
    verbatim-contained src scores near 10000 minus boundary windows).
    Output: (src_id, dst_id, n_shared, n_src, containment_bp), ordered
    pairs in BOTH directions (the asymmetry is the information), pairs
    below ``threshold_bp`` dropped.

    Scale shape:
    - candidate generation is the equi-self-join on the fingerprint —
      (fp, doc_id) bigint pairs only, never text (the LSH-pairs shape).
    - ``CONTAINMENT_MAX_FP_DF`` drops corpus-ubiquitous fingerprints
      before the join (site boilerplate shared by thousands of pages would
      contribute df² candidate pairs; a fingerprint that common
      identifies no specific containment anyway — the stopword-cap
      argument from index.term_postings). The cap bounds the join
      fan-out at CONTAINMENT_MAX_FP_DF² pairs per fingerprint.
    - |fp(src)| comes from the fingerprint table itself (size of the
      array), broadcast-joined back onto the aggregated pair counts.
    """
    from .textstats import winnow_fingerprints

    fps = winnow_fingerprints(docs)
    sizes = fps.select(
        F.col("doc_id").alias("src_id"),
        F.size("fingerprints").cast("long").alias("n_src"),
    )
    pairs = fps.select(
        "doc_id", F.explode_outer("fingerprints").alias("fp")
    ).filter(F.col("fp").isNotNull())
    rare = (
        pairs.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= CONTAINMENT_MAX_FP_DF)
        .select("fp")
    )
    pairs = pairs.join(rare, "fp")
    a = pairs.select(F.col("doc_id").alias("src_id"), "fp")
    b = pairs.select(F.col("doc_id").alias("dst_id"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, "src_id")
        .select(
            "src_id",
            "dst_id",
            "n_shared",
            "n_src",
            F.expr("(10000 * n_shared) div n_src").alias(
                "containment_bp"
            ),
        )
        .filter(F.col("containment_bp") >= threshold_bp)
    )


def cross_source_chunks(
    docs: DataFrame,
    k: int = CHUNK_TOKENS,
) -> DataFrame:
    """Cross-source shared-chunk matrix — the syndication/boilerplate
    PROVENANCE analytic of corpus curation: for every pair of sources,
    how many distinct k-token chunk hashes appear in BOTH. High counts
    flag feeds that republish each other (wire-service syndication,
    mirror sites, shared CMS templates) — the standard evidence for
    collapsing sources before mixing weights are assigned (the
    RedPajama/Dolma source-overlap audits do exactly this before
    setting per-source sampling rates).

    Output: (source_a, source_b, shared_chunks) with source_a <
    source_b lexicographically — strictly cross-source; within-source
    duplication is :func:`chunk_dedup`'s business.

    Scale shape (10^12 docs): chunking+hashing are the scan-local
    staged stages shared with chunk_dedup (checkpointed short-key
    frame); attaching the source label is an equi-join on doc_id moving
    (doc_id, source) shorts; the (source, chash) DISTINCT is a
    map-side-combined hash shuffle; the chash self-join fans out at
    most |sources-per-chunk|^2 <= |S|^2 rows per chunk hash, and |S| is
    the number of CORPUS SOURCES (tens to hundreds) — never a
    doc-count-shaped blowup. Chunk text never crosses an exchange.
    For corpora with extreme template ubiquity, run
    :func:`boilerplate_scrub` first so template chunks don't dominate
    the matrix.

    DuckDB oracle: `q: dd_cross_source`.
    """
    _, keyed = _chunk_stages(docs, k)
    labeled = (
        keyed.join(
            docs.select("doc_id", F.col("source").alias("_src")),
            "doc_id",
        )
        .select("_src", "chash")
        .distinct()
    )
    a = labeled.select(
        F.col("_src").alias("source_a"), F.col("chash").alias("chash")
    )
    b = labeled.select(
        F.col("_src").alias("source_b"), F.col("chash").alias("chash")
    )
    return (
        a.join(b, "chash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_chunks"))
    )


def template_report(
    docs: DataFrame,
    min_df: int = 3,
    top_n: int = 50,
) -> DataFrame:
    """Boilerplate template AUDIT — the human-facing side of
    :func:`boilerplate_scrub`'s election: the most ubiquitous k-token
    chunks ranked by document frequency, each with one example
    document and its text (what a curation reviewer reads before
    choosing max_df; RefinedWeb/CCNet teams eyeball exactly this list
    to confirm the threshold kills navigation chrome, not prose).

    Output: top-``top_n`` rows (chash, df, n_occurrences,
    example_doc_id, chunk_text) ordered by (df desc, chash).

    Scale shape: the shared checkpointed chunk-hash stage plus ONE
    df aggregation on (chash, doc_id) shorts; the top-n compiles to
    TakeOrderedAndProject; chunk TEXT is attached only to the
    <= top_n winners via a semi-filtered rejoin of the chunk stream
    (text for at most top_n hashes crosses the broadcast, never the
    corpus).
    """
    if min_df < 1:
        raise ValueError(f"min_df must be >= 1, got {min_df}")
    chunked, keyed = _chunk_stages(docs, CHUNK_TOKENS)
    stats = (
        keyed.groupBy("chash")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), "chash")
        .limit(top_n)
    )
    # re-derive the winners' text from the example doc's chunk array —
    # a broadcast join against <= top_n (doc_id, chash) pairs, so chunk
    # text is materialized for the winners only
    ex = (
        chunked.join(
            F.broadcast(
                stats.select(
                    F.col("example_doc_id").alias("doc_id"), "chash"
                )
            ),
            "doc_id",
        )
        .select(
            "chash",
            F.explode_outer("chunks").alias("chunk_text"),
        )
        .filter(F.col("chunk_text").isNotNull())
        .filter(md5_hex(F.col("chunk_text"), 16) == F.col("chash"))
        .groupBy("chash")
        .agg(F.min("chunk_text").alias("chunk_text"))
    )
    return stats.join(ex, "chash").select(
        "chash",
        F.col("df").cast("long").alias("df"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
        F.col("example_doc_id").cast("long").alias("example_doc_id"),
        "chunk_text",
    ).orderBy(F.desc("df"), "chash")
