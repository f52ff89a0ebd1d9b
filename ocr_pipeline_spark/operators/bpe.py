"""Distributed BPE tokenizer training + encoding.

The canonical large-corpus tokenizer workflow, Spark-first:

- ``word_frequencies``: the ONLY corpus-sized job — one tokenize +
  explode + groupBy(word) with map-side partial aggregation. At 100 TB
  the output (the distinct-word table, ~10^7-10^8 rows for web text) is
  orders of magnitude smaller than the corpus, which is exactly why BPE
  trainers everywhere (SentencePiece, HF tokenizers) train on the word-
  frequency dict rather than the raw corpus.
- ``bpe_train``: iterative pair-count/argmax/merge rounds over that
  word table (the DataFrame-iterative shape, like ``dup_clusters``):
  each round explodes adjacent symbol pairs (weighted by word freq),
  aggregates pair counts (shuffle carries (left, right, count) shorts —
  never words or documents), takes the global argmax with a
  deterministic tie-break via ``orderBy().limit(1)`` (a one-row
  collect per round, documented-bounded), applies the merge as a pure
  expression fold, and ``localCheckpoint``s so lineage stays flat.
- ``bpe_encode``: scan-local expression encoding (no shuffle, no
  Python) — per word, one array fold per merge in rank order. The
  nested higher-order functions are CodegenFallback (interpreted), so
  this form is for moderate merge tables (the cross-engine-verifiable
  spec path); ``bpe_encode_pandas`` is the bulk variant for
  production-sized merge tables (30k+ merges need dict-based encoding,
  not 30k nested folds) — Arrow-batched mapInPandas over the same
  kernel, so the two paths are equal by construction (asserted in
  tests/test_bpe.py).

Kernel-is-spec: ``kernels/bpe.py`` defines the exact fold/tie-break
semantics; ``tests/test_bpe.py`` asserts the distributed trainer equals
the kernel on the same corpus, and the driver queries value-check both
training (kernel-computed VALUES oracle) and encoding (DuckDB replays
the same folds via generated list_reduce chains).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.bpe import MIN_COUNT, Merge
from .textstats import tokens

__all__ = [
    "apply_merge_col",
    "bpe_encode",
    "bpe_encode_pandas",
    "bpe_train",
    "chars_col",
    "word_frequencies",
]


def word_frequencies(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — tokenize, explode, count.

    explode_outer + isNotNull, not explode: InferFiltersFromGenerate
    would push the tokenize tree into a Filter (CLAUDE.md)."""
    return (
        docs.select(F.explode_outer(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").isNotNull())
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def chars_col(word: Column) -> Column:
    """Character-symbol array of a word ('' → empty array)."""
    return F.filter(F.split(word, ""), lambda c: c != F.lit(""))


def apply_merge_col(s: Column, left: str, right: str) -> Column:
    """The kernel's ``apply_merge`` fold as a pure expression: one
    left-to-right pass replacing adjacent (left, right) occurrences.

    Shape constraint: the input column is referenced exactly ONCE
    (a fold from an empty typed init, with the first-element case
    handled inside the step) — encoding chains nest this 24+ levels
    deep, and a slice-based form referencing ``s`` 4× per level would
    blow the expression tree up 4^depth (Catalyst has no logical CSE,
    CLAUDE.md)."""
    merged = F.lit(left + right)

    def step(acc: Column, x: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(s, F.array().cast("array<string>"), step)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 24,
) -> list[Merge]:
    """Distributed BPE training; returns the learned merge table (a
    small driver-side list — it IS the tokenizer artifact).

    Each round's shuffle carries only (left, right, freq) shorts; the
    argmax is a deterministic ``orderBy(count desc, left, right)
    .limit(1)`` — one collected row per round, never the table."""
    vocab = (
        word_frequencies(docs)
        .select("freq", chars_col(F.col("word")).alias("s"))
        .localCheckpoint(eager=True)
    )
    merges: list[Merge] = []
    for rank in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode_outer(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda a, b: F.struct(
                            a.alias("left"), b.alias("right")
                        ),
                    )
                ).alias("p"),
            )
            .filter(F.col("p").isNotNull())
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(
                F.desc("cnt"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < MIN_COUNT:
            break
        left, right, cnt = (
            best[0]["left"], best[0]["right"], int(best[0]["cnt"])
        )
        merges.append(Merge(rank, left, right, left + right, cnt))
        vocab = vocab.select(
            "freq", apply_merge_col(F.col("s"), left, right).alias("s")
        ).localCheckpoint(eager=True)
    return merges


def _encode_word_col(word: Column, merges: list[Merge]) -> Column:
    syms = chars_col(word)
    for m in merges:
        syms = apply_merge_col(syms, m.left, m.right)
    return syms


def bpe_encode(docs: DataFrame, merges: list[Merge]) -> DataFrame:
    """(doc_id, bpe_tokens) — scan-local expression encoding: every
    word folded once per merge in rank order (the kernel spec)."""
    return docs.select(
        "doc_id",
        F.flatten(
            F.transform(
                tokens(F.col("text")),
                lambda w: _encode_word_col(w, merges),
            )
        ).alias("bpe_tokens"),
    )


def bpe_encode_pandas(docs: DataFrame, merges: list[Merge]) -> DataFrame:
    """Bulk encoder for production-sized merge tables: Arrow-batched
    mapInPandas over the kernel's dict-based encoder (30k nested folds
    would not plan; a rank-dict lookup loop is the right hot path).
    Equal to ``bpe_encode`` by construction — both implement
    kernels/bpe.py — asserted in tests."""
    from ..kernels.bpe import encode_text

    ms = list(merges)
    out_schema = "doc_id long, bpe_tokens array<string>"

    def run(batches):
        for pdf in batches:
            yield pdf.assign(
                bpe_tokens=pdf["text"].map(
                    lambda t: encode_text(t, ms)
                )
            )[["doc_id", "bpe_tokens"]]

    return docs.select("doc_id", "text").mapInPandas(run, out_schema)
