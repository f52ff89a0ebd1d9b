"""BPE trainer/encoder: kernel spec, distributed-equals-kernel, and
expression-equals-pandas equalities (cross-engine parity runs in
test_entry.py via the bpe_merges / bpe_encode queries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.kernels.bpe import (
    TRAIN_CORPUS,
    apply_merge,
    encode_text,
    train_merges,
    word_frequencies,
)
from ocr_pipeline_spark.operators.bpe import (
    apply_merge_col,
    bpe_encode,
    bpe_encode_pandas,
    bpe_train,
)
from ocr_pipeline_spark.operators.bpe import (
    word_frequencies as word_frequencies_df,
)


def test_kernel_fold_semantics():
    # left-to-right non-overlapping: a a a -> aa a
    assert apply_merge(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert apply_merge(["a", "a", "a", "a"], "a", "a") == ["aa", "aa"]
    assert apply_merge(["a", "b", "c", "a", "b"], "a", "b") == [
        "ab", "c", "ab",
    ]
    # merged symbol doesn't cascade within the same pass
    assert apply_merge(["a", "b", "b"], "a", "b") == ["ab", "b"]
    assert apply_merge([], "a", "b") == []
    assert apply_merge(["x"], "a", "b") == ["x"]


def test_kernel_train_is_deterministic_and_ordered():
    freqs = word_frequencies(list(TRAIN_CORPUS))
    a = train_merges(freqs, 24)
    b = train_merges(freqs, 24)
    assert a == b and len(a) == 24
    assert [m.rank for m in a] == list(range(1, 25))
    # counts never increase as training proceeds past each merge's rank
    # in a way that would contradict argmax selection: each selected
    # count is the max at its round, so it is >= the NEXT round's count
    # only when the next round's best existed already — just assert
    # every selected pair had weight >= min_count and merges are unique
    assert all(m.pair_count >= 2 for m in a)
    assert len({(m.left, m.right) for m in a}) == 24


def test_distributed_train_equals_kernel(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN_CORPUS)],
        "doc_id long, text string",
    )
    dist = bpe_train(docs, n_merges=16)
    kern = train_merges(word_frequencies(list(TRAIN_CORPUS)), 16)
    assert dist == kern


def test_word_frequencies_df_equals_kernel(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TRAIN_CORPUS)],
        "doc_id long, text string",
    )
    got = {
        r["word"]: r["freq"] for r in word_frequencies_df(docs).collect()
    }
    assert got == word_frequencies(list(TRAIN_CORPUS))


def test_expression_fold_equals_kernel(spark):
    rows = [(["a", "b", "c", "a", "b"],), (["a", "a", "a"],), ([],), (["x"],)]
    df = spark.createDataFrame(rows, "s array<string>")
    got = [
        r["m"]
        for r in df.select(
            apply_merge_col(F.col("s"), "a", "b").alias("m")
        ).collect()
    ]
    assert got == [apply_merge(s, "a", "b") for (s,) in rows]
    got_aa = [
        r["m"]
        for r in df.select(
            apply_merge_col(F.col("s"), "a", "a").alias("m")
        ).collect()
    ]
    assert got_aa == [apply_merge(s, "a", "a") for (s,) in rows]


def test_encode_paths_agree_with_kernel(spark):
    merges = train_merges(word_frequencies(list(TRAIN_CORPUS)), 16)
    texts = [
        (0, TRAIN_CORPUS[0]),
        (1, "unseen words like zebra quartz survive as characters"),
        (2, ""),
        (3, None),
        (4, "Tokenizer   TRAINING juxtaposed"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    expr = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges).collect()
    }
    pand = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    kern = {i: encode_text(t, merges) for i, t in texts}
    assert expr == kern
    assert pand == kern
    # round-trip property: concatenating tokens per word restores it
    assert "".join(expr[1]) == "unseenwordslikezebraquartzsurviveascharacters"


def test_encode_paths_agree_on_unicode_whitespace(spark):
    """Python's bare \\s/strip() are Unicode-aware while Java and RE2
    are ASCII-only — the kernel pins re.ASCII + strip(' ') so the
    Arrow bulk path cannot drift from the expression path on web text
    (NBSP, em-space, control chars)."""
    merges = train_merges(word_frequencies(list(TRAIN_CORPUS)), 8)
    texts = [
        (0, "foo\u00a0bar"),          # NBSP inside a "word"
        (1, "a\u2003b"),              # em-space
        (2, "\u00a0lead and trail\u00a0"),
        (3, "ctrl\x1fchar"),
        (4, "tab\tand\nnewline ok"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    expr = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(docs, merges).collect()
    }
    pand = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    kern = {i: encode_text(t, merges) for i, t in texts}
    assert expr == kern
    assert pand == kern


def test_vocab_and_id_encoding():
    from ocr_pipeline_spark.kernels.bpe import default_merges, vocab_of

    merges = default_merges(24)
    vocab = vocab_of(merges)
    assert vocab[0] == "<unk>"
    assert len(vocab) == len(set(vocab))  # ids are unambiguous
    # merged symbols occupy the tail in rank order
    assert vocab[-len(merges):] == [m.merged for m in merges]
