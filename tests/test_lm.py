"""Unit tests for the unigram-LM surprisal scorer (operators/lm.py).
Cross-engine value parity lives in test_entry.py (lm_doc_surprisal /
lm_head_split oracles); these prove the semantics on controlled text
and check the exact bit math against a pure-Python replay. The last
test fails if an LM recipe step is spelled outside its one definition.
"""

from __future__ import annotations

import hashlib
import math
import pathlib
import re

import pytest

from ocr_pipeline_spark.operators.lm import head_split, lm_surprisal

DOCS = [
    # fluent, repeated common words -> low surprisal
    (0, "the cat sat on the mat and the dog sat on the cat"),
    (1, "the dog sat on the mat and the cat sat on the dog"),
    # rare-token soup -> high surprisal
    (2, "zqx wvk jjq pzl qqv xxz kwj lzp vqq zxx"),
    # mixed
    (3, "the cat zqx on the mat wvk the dog"),
]


def _py_surprisal(rows):
    """Pure-Python replay of the documented math (the spec)."""
    norm = [(i, " ".join(t.lower().split())) for i, t in rows]
    toks = {i: n.split(" ") for i, n in norm}
    cnt: dict[str, int] = {}
    for ts in toks.values():
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
    n_total = sum(cnt.values())
    vocab = len(cnt)
    out = {}
    for i, ts in toks.items():
        bits = sum(
            ((n_total + vocab) // (cnt[t] + 1)).bit_length() for t in ts
        )
        out[i] = (len(ts), bits, (10000 * bits) // len(ts))
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_matches_python_spec(spark, docs):
    want = _py_surprisal(DOCS)
    got = {
        r["doc_id"]: (r["n_toks"], r["sum_bits"], r["surprisal_bp"])
        for r in lm_surprisal(docs).collect()
    }
    assert got == want


def test_rare_soup_scores_higher(spark, docs):
    got = {
        r["doc_id"]: r["surprisal_bp"] for r in lm_surprisal(docs).collect()
    }
    assert got[2] > got[3] > got[0]
    assert got[2] > got[1]


def test_head_split_is_partition(spark, docs):
    rows = head_split(docs, n_splits=2).collect()
    by_split = {}
    for r in rows:
        by_split.setdefault(r["split"], []).append(r)
    assert set(by_split) == {1, 2}
    # head = lowest surprisal (fluent docs), tail = rare soup
    head_ids = {r["doc_id"] for r in by_split[1]}
    assert 2 not in head_ids
    assert len(rows) == len(DOCS)
    # ntile(2) over 4 rows -> 2 and 2
    assert len(by_split[1]) == len(by_split[2]) == 2


def test_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "a a a")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_toks"] for r in lm_surprisal(df).collect()}
    # NULL and '' both normalize to the single empty token
    assert got == {0: 1, 1: 1, 2: 3}


def test_bits_are_exact_log2(spark):
    # one doc, known counts: token 'a' x3, 'b' x1 -> N=4, V=2
    df = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    row = lm_surprisal(df).collect()[0]
    # a: (6)//4 = 1 -> 1 bit, x3; b: (6)//2 = 3 -> 2 bits
    assert row["sum_bits"] == 3 * 1 + 2
    assert row["surprisal_bp"] == (10000 * 5) // 4
    # sanity: bit_length really is floor(log2)+1
    assert (3).bit_length() == math.floor(math.log2(3)) + 1


def test_hash_key_is_md5_prefix():
    # the join key contract both engines share
    assert hashlib.md5(b"the").hexdigest()[:16] == (
        hashlib.md5("the".encode()).hexdigest()[:16]
    )


def _py_bigram(rows):
    norm = [(i, " ".join(t.lower().split())) for i, t in rows]
    toks = {i: n.split(" ") for i, n in norm}
    uni: dict[str, int] = {}
    bg: dict[tuple[str, str], int] = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    n_total, vocab = sum(uni.values()), len(uni)
    out = {}
    for i, ts in toks.items():
        bits = ((n_total + vocab) // (uni[ts[0]] + 1)).bit_length()
        for a, b in zip(ts, ts[1:]):
            bits += ((uni[a] + vocab) // (bg[(a, b)] + 1)).bit_length()
        out[i] = (len(ts), bits, (10000 * bits) // len(ts))
    return out


def test_bigram_matches_python_spec(spark, docs):
    from ocr_pipeline_spark.operators.lm import bigram_surprisal

    want = _py_bigram(DOCS)
    got = {
        r["doc_id"]: (r["n_toks"], r["sum_bits"], r["surprisal_bp"])
        for r in bigram_surprisal(docs).collect()
    }
    assert got == want


def test_bigram_context_beats_unigram_on_collocations(spark):
    """'new york' repeated: under the bigram model the continuation is
    near-free; the unigram model charges full rarity both times."""
    from ocr_pipeline_spark.operators.lm import (
        bigram_surprisal,
        lm_surprisal,
    )

    rows = [
        (0, "new york new york new york new york"),
        (1, "new cat old york red dog big sun"),  # same-ish unigrams, no pattern
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bg = {r["doc_id"]: r["surprisal_bp"] for r in bigram_surprisal(df).collect()}
    un = {r["doc_id"]: r["surprisal_bp"] for r in lm_surprisal(df).collect()}
    # the repetitive collocation doc must be much cheaper under bigrams
    assert bg[0] < bg[1]
    assert bg[0] < un[0]


def test_head_split_approx_properties(spark, docs):
    """Approx split: a partition into 1..n, monotone in surprisal up to
    one histogram bin, and near-equal populations on the real corpus."""
    from ocr_pipeline_spark.operators.lm import head_split_approx

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = head_split_approx(corpus, n_splits=3).collect()
    splits = {r["split"] for r in rows}
    assert splits <= {1, 2, 3} and len(rows) == corpus.count()
    # monotone: every split-1 doc scores <= every split-3 doc
    by = {}
    for r in rows:
        by.setdefault(r["split"], []).append(r["surprisal_bp"])
    assert max(by[1]) <= min(by[3])
    # populations within 2x of each other (one-bin boundary error)
    sizes = sorted(len(v) for v in by.values())
    assert sizes[-1] <= 2 * sizes[0]


def test_head_split_approx_guard(spark, docs):
    from ocr_pipeline_spark.operators.lm import head_split_approx

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_splits"):
        head_split_approx(docs, n_splits=0)


DSIR_DOCS = [
    # target slice (lang=en): fluent common-word English
    (0, "the cat sat on the mat and the dog sat on the mat", "en"),
    (1, "the dog and the cat sat on the mat on the mat", "en"),
    # raw-only: rare-token soup the target never uses
    (2, "zqx wvk jjq pzl qqv xxz kwj lzp vqq zxx", "xx"),
    # raw-only but target-like text: should score near the target docs
    (3, "the cat and the dog sat on the mat", "xx"),
]


def _py_dsir(rows, target_ids):
    """Pure-Python replay of dsir_weights' documented integer math."""
    toks = {i: " ".join(t.lower().split()).split(" ") for i, t, _ in rows}
    cnt: dict[str, int] = {}
    cnt_t: dict[str, int] = {}
    for i, ts in toks.items():
        for t in ts:
            cnt[t] = cnt.get(t, 0) + 1
            if i in target_ids:
                cnt_t[t] = cnt_t.get(t, 0) + 1
    n_total, vocab = sum(cnt.values()), len(cnt)
    n_total_t = sum(cnt_t.values())

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    out = {}
    for i, ts in toks.items():
        diff = sum(
            ((n_total + vocab) // (cnt[t] + 1)).bit_length()
            - ((n_total_t + vocab) // (cnt_t.get(t, 0) + 1)).bit_length()
            for t in ts
        )
        out[i] = (len(ts), diff, trunc_div(10000 * diff, len(ts)))
    return out


def test_dsir_weights_match_python_replay(spark):
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import dsir_weights

    df = spark.createDataFrame(
        DSIR_DOCS, "doc_id long, text string, lang string"
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["logw_bits"], r["logw_bp"])
        for r in dsir_weights(df, F.col("lang") == "en").collect()
    }
    want = _py_dsir(DSIR_DOCS, {0, 1})
    assert got == want
    # semantics: target-like text outranks off-target rare soup, and the
    # rare soup's weight is negative (less likely under the target)
    assert got[3][2] > got[2][2]
    assert got[2][2] < 0


def test_dsir_weights_deterministic_under_partitioning(spark):
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import dsir_weights

    df = spark.createDataFrame(
        DSIR_DOCS, "doc_id long, text string, lang string"
    )
    a = sorted(map(tuple, dsir_weights(df, F.col("lang") == "en").collect()))
    b = sorted(
        map(
            tuple,
            dsir_weights(
                df.repartition(7), F.col("lang") == "en"
            ).collect(),
        )
    )
    assert a == b


def _py_stupid_backoff(lm_rows, sc_rows, penalty=1):
    """Pure-Python replay of the stupid_backoff spec (Brants 2007
    whole-bit form): seen bigram = raw conditional-frequency bits,
    backoff = penalty + add-one unigram bits (OOV folds in at cnt 0)."""
    def toks(t):
        n = " ".join((t or "").lower().split())
        return n.split(" ")

    uni: dict[str, int] = {}
    bg: dict[tuple[str, str], int] = {}
    for _, t in lm_rows:
        ts = toks(t)
        for x in ts:
            uni[x] = uni.get(x, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    n_total, vocab = sum(uni.values()), len(uni)

    def ubits(t):
        return ((n_total + vocab) // (uni.get(t, 0) + 1)).bit_length()

    out = {}
    for did, t in sc_rows:
        ts = toks(t)
        bits, nb = ubits(ts[0]), 0
        for a, b in zip(ts, ts[1:]):
            if (a, b) in bg:
                bits += (uni[a] // bg[(a, b)]).bit_length()
            else:
                nb += 1
                bits += penalty + ubits(b)
        out[did] = (len(ts), bits, nb, (10000 * bits) // len(ts))
    return out


SB_LM = [(0, "a b c a b"), (2, "a b d")]
SB_SC = [(1, "a b c"), (3, "z q"), (5, "b a"), (7, ""), (9, None)]


def test_stupid_backoff_matches_python_spec(spark):
    from ocr_pipeline_spark.operators.lm import stupid_backoff

    lm = spark.createDataFrame(SB_LM, "doc_id long, text string")
    sc = spark.createDataFrame(SB_SC, "doc_id long, text string")
    want = _py_stupid_backoff(SB_LM, SB_SC)
    got = {
        r["doc_id"]: (
            r["n_toks"], r["sum_bits"], r["n_backoff"], r["surprisal_bp"]
        )
        for r in stupid_backoff(sc, lm_docs=lm).collect()
    }
    assert got == want
    # the hand corpus must exercise BOTH branches: doc 1 is all-seen
    # (zero backoffs), docs 3/5 back off (OOV pair / unseen order)
    assert got[1][2] == 0 and got[3][2] == 1 and got[5][2] == 1


def test_stupid_backoff_self_train_never_backs_off(spark):
    """Scoring the training corpus itself: every scored bigram was
    counted from that very document, so the backoff branch is dead —
    the documented reason the driver query uses an even/odd split."""
    from ocr_pipeline_spark.operators.lm import stupid_backoff

    df = spark.createDataFrame(SB_LM, "doc_id long, text string")
    rows = stupid_backoff(df).collect()
    assert rows and all(r["n_backoff"] == 0 for r in rows)


def test_stupid_backoff_backoff_branch_fires_on_corpus(spark):
    """On the real synthetic corpus under the driver's even/odd split,
    some scored documents must take the backoff branch (otherwise the
    driver query degenerates into the bigram path)."""
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import stupid_backoff

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = stupid_backoff(
        docs.filter(F.col("doc_id") % 2 == 1),
        lm_docs=docs.filter(F.col("doc_id") % 2 == 0),
    )
    agg = out.selectExpr(
        "sum(n_backoff) AS nb", "count(*) AS n", "min(sum_bits) AS mn"
    ).first()
    assert agg["n"] == 250
    assert agg["nb"] > 0
    assert agg["mn"] >= 1


def test_stupid_backoff_partition_independent(spark):
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.lm import stupid_backoff

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc_, lm_ = (
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )
    a = sorted(
        map(tuple, stupid_backoff(sc_.repartition(1), lm_docs=lm_).collect())
    )
    b = sorted(
        map(tuple, stupid_backoff(sc_.repartition(7), lm_docs=lm_).collect())
    )
    assert a == b


def test_stupid_backoff_rejects_bad_args(spark):
    from ocr_pipeline_spark.operators.lm import stupid_backoff

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        stupid_backoff(df, penalty_bits=-1)


def test_vocab_coverage_matches_python_replay(spark):
    from collections import Counter

    from ocr_pipeline_spark.operators.lm import vocab_coverage

    rows = [(0, "a a a a b b c d"), (1, "a b e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, vocab_coverage(df, ks=(1, 2, 3, 100)).collect()))

    cnt = Counter()
    for _, t in rows:
        cnt.update(t.split(" "))
    n = sum(cnt.values())
    import hashlib

    order = sorted(
        cnt.items(),
        key=lambda kv: (-kv[1], hashlib.md5(kv[0].encode()).hexdigest()[:16]),
    )
    want = []
    for k in (1, 2, 3, 100):
        cov = sum(c for _, c in order[:k])
        want.append((k, cov, (10000 * cov) // n, n, len(cnt)))
    assert got == sorted(want)
    # the curve is monotone and saturates at full mass
    covs = [c for _, c, *_ in got]
    assert covs == sorted(covs) and got[-1][1] == n


def test_vocab_coverage_tie_break_is_hash_deterministic(spark):
    """All-singleton vocabulary: top-1 must pick the md5-smallest type
    on every run/partitioning (the documented tie rule)."""
    import hashlib

    from ocr_pipeline_spark.operators.lm import vocab_coverage

    rows = [(0, "x y z w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = vocab_coverage(df.repartition(1), ks=(1,)).first()
    b = vocab_coverage(df.repartition(5), ks=(1,)).first()
    assert (a["covered"], a["coverage_bp"]) == (1, 2500)
    assert tuple(a) == tuple(b)


def test_vocab_coverage_rejects_bad_ks(spark):
    from ocr_pipeline_spark.operators.lm import vocab_coverage

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for bad in ((), (0,), (3, 3)):
        with pytest.raises(ValueError):
            vocab_coverage(df, ks=bad)


# -- one definition per LM recipe step, per engine ----------------------------

ROOT = pathlib.Path(__file__).resolve().parent.parent

# md5 of a token (Spark), the bit formula (Spark), and the token hash or
# add-one bits (DuckDB); \s* spans line breaks inside a call
_TOKEN_MD5 = re.compile(r"md5_hex\(\s*(?:F\.col\(\s*[\"']tok[\"']\s*\)|(?:tok|t|x)\b)")
_SPARK_BITS = re.compile(r"F\.bin\(")
_DUCK_LM = re.compile(
    r"substr\(md5\((?:tok|x|t)\), 1, 16\)|length\(bin\(\(n_total \+ vocab\)"
)
# the one line in each file allowed to spell its step
_DEFINITIONS = {
    "ocr_pipeline_spark/operators/textstats.py": "    return md5_hex(tok, 16)",
    "ocr_pipeline_spark/operators/lm.py": '    return F.length(F.bin(q)).cast("long")',
    "__spark_entry__.py": '_THASHES = f"list_transform({_TOKS}, x -> substr(md5(x), 1, 16))"',
}
_PLANTED = [
    (_TOKEN_MD5, '        .select("doc_id", md5_hex(F.col("tok"), 16).alias("thash"))'),
    (_TOKEN_MD5, "        F.transform(tokens(F.col(text_col)), lambda t: md5_hex(t, 16))"),
    (_SPARK_BITS, '        F.length(F.bin(F.expr("(n_total + vocab) div (cnt + 1)")))'),
    (_DUCK_LM, "              SELECT doc_id, substr(md5(tok), 1, 16) AS thash"),
    (_DUCK_LM, "                           x -> substr(md5(x), 1, 16)) AS hs"),
    (_DUCK_LM, "                     length(bin((n_total + vocab) // (cnt + 1))) AS bits"),
]


def test_no_module_inlines_the_lm_recipe():
    assert all(pat.search(line) for pat, line in _PLANTED)
    pkg = ROOT / "ocr_pipeline_spark"
    scans = [(p.relative_to(ROOT).as_posix(), _TOKEN_MD5) for p in sorted(pkg.rglob("*.py"))]
    scans += [("ocr_pipeline_spark/operators/lm.py", _SPARK_BITS), ("__spark_entry__.py", _DUCK_LM)]
    hits, found = [], set()
    for rel, pat in scans:
        src = (ROOT / rel).read_text()
        lines = src.splitlines()
        for m in pat.finditer(src):
            no = src.count("\n", 0, m.start())
            if lines[no] == _DEFINITIONS.get(rel):
                found.add(rel)
            else:
                hits.append(f"{rel}:{no + 1}: {lines[no].strip()}")
    assert not hits, "LM recipe spelled outside its definitions:\n" + "\n".join(hits)
    assert found == set(_DEFINITIONS)
