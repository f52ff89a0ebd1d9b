"""BPE (byte-pair-encoding) tokenizer training + encoding — pure-Python
kernel, Spark-free. Kernel-is-spec: this module defines the exact
semantics the distributed operators (operators/bpe.py) and the DuckDB
oracle expressions must reproduce byte-identically.

Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"), specialized for engine portability:

- pre-tokenization: the engine-wide ``norm_text`` (lowercase, collapse
  whitespace, trim) then whitespace split — identical to
  ``operators.textstats.tokens``;
- symbols: single characters (no end-of-word marker — the whitespace
  pre-tokenizer already bounds words, and dropping the marker keeps the
  cross-engine expression forms simple);
- training: repeat ``n_merges`` times — count adjacent symbol pairs
  over the word-frequency table (overlapping occurrences all count,
  weighted by word frequency), take the pair with the highest count
  (ties: lexicographically smallest (left, right)), stop early when the
  best count < ``MIN_COUNT``;
- merge application (THE spec shared by all three implementations): a
  single left-to-right fold — scan the symbol list, replacing each
  adjacent (left, right) occurrence as it is met, so ``a a a`` under
  merge (a,a) becomes ``aa a``;
- encoding: apply each learned merge's fold once, in rank order. (The
  classic encoder re-scans for the lowest-rank pair until fixpoint;
  one pass per rank is equivalent whenever every pair's constituent
  symbols were created by strictly lower ranks — true by construction
  during training. The corner case where two different merge paths
  build the same symbol string can diverge from the classic encoder;
  this fold order IS this engine's specification, applied identically
  in Python, Spark expressions, and the DuckDB oracle.)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

__all__ = [
    "TRAIN_CORPUS",
    "Merge",
    "apply_merge",
    "corpus_alphabet",
    "default_merges",
    "encode_text",
    "encode_word",
    "norm_words",
    "train_merges",
    "vocab_of",
    "word_frequencies",
]

# Deterministic training corpus for the driver-contract query: shared
# stems/affixes so merges learn real subword structure within 24 rounds.
TRAIN_CORPUS: tuple[str, ...] = (
    "the tokenizer turns tokens into token streams for the trainer",
    "partition the partitions and repartition the partitioned table",
    "stream processing streams the streamed partitions to the sink",
    "the trainer trains training tokenizers on tokenized streams",
    "shuffle partitions shuffle the shuffled stream partitions",
    "token counts count the counted tokens in the token table",
    "the sink syncs the synced streams into partitioned tables",
    "repartitioning repartitions the repartitioned token streams",
    "training the tokenizer trains token counting on the table",
    "streamed tokens partition the partitioning tokenizer table",
)

# re.ASCII: Python's default \s is Unicode-aware (NBSP, em-space, ...)
# while Java's \s — the Spark expression path — is ASCII-only
# [ \t\n\x0b\f\r], which re.ASCII matches exactly. RE2's \s — the
# DuckDB oracle — lacks \x0b, so the oracle spells that class out. The
# kernel IS the spec for bpe_encode_pandas, so it must tokenize exactly
# like the engines or the "equal by construction" paths diverge on web
# text.
_WS = re.compile(r"\s+", re.ASCII)


@dataclass(frozen=True)
class Merge:
    rank: int          # 1-based
    left: str
    right: str
    merged: str
    pair_count: int    # weighted count at selection time


def default_merges(n_merges: int = 24) -> "list[Merge]":
    """The fixed TRAIN_CORPUS tokenizer — the single construction point
    shared by the driver contract, bench.py, and the CLI (so a change
    to the default merge count or corpus cannot drift them apart)."""
    return train_merges(word_frequencies(list(TRAIN_CORPUS)), n_merges)


def norm_words(text: str | None) -> list[str]:
    """norm_text + whitespace split ('' → ['']), the engine tokenizer.
    strip(' ') not strip(): bare strip() is Unicode-aware like bare \\s
    — the engines' trim() removes ASCII spaces only."""
    norm = _WS.sub(" ", (text or "").lower()).strip(" ")
    return norm.split(" ") if norm else [""]


def word_frequencies(texts: list[str | None]) -> dict[str, int]:
    freqs: dict[str, int] = {}
    for t in texts:
        for w in norm_words(t):
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


def apply_merge(syms: list[str], left: str, right: str) -> list[str]:
    """One left-to-right fold replacing adjacent (left, right) pairs."""
    if len(syms) < 2:
        return list(syms)
    out = [syms[0]]
    for x in syms[1:]:
        if out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


# Training stops at the first best pair seen fewer than MIN_COUNT times.
MIN_COUNT = 2


def train_merges(word_freqs: dict[str, int], n_merges: int) -> list[Merge]:
    vocab = {w: [c for c in w] for w in word_freqs}
    merges: list[Merge] = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        # max count, ties broken by smallest (left, right)
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if c < MIN_COUNT:
            break
        merges.append(Merge(rank, left, right, left + right, c))
        vocab = {
            w: apply_merge(syms, left, right) for w, syms in vocab.items()
        }
    return merges


def encode_word(word: str, merges: list[Merge]) -> list[str]:
    syms = [c for c in word]
    for m in merges:
        syms = apply_merge(syms, m.left, m.right)
    return syms


def encode_text(text: str | None, merges: list[Merge]) -> list[str]:
    out: list[str] = []
    for w in norm_words(text):
        out.extend(encode_word(w, merges))
    return out


def corpus_alphabet(texts: "list[str | None]") -> list[str]:
    """Sorted single-character alphabet of a training corpus (the id
    space's base symbols)."""
    return sorted({c for t in texts for w in norm_words(t) for c in w})


def vocab_of(merges: "list[Merge]") -> list[str]:
    """The tokenizer vocabulary: '<unk>' at id 0, then the sorted
    single-character TRAIN_CORPUS alphabet, then merged symbols in rank
    order. The alphabet is part of the tokenizer artifact, so this
    vocabulary matches merges trained on TRAIN_CORPUS
    (``default_merges``)."""
    alphabet = corpus_alphabet(list(TRAIN_CORPUS))
    return ["<unk>"] + alphabet + [m.merged for m in merges]
