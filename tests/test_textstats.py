"""Functional text-stats tests (cross-engine parity lives in
test_entry.py's oracle harness; these prove the heuristics behave on
real-ish text)."""

from __future__ import annotations

import pytest

from ocr_pipeline_spark.operators.pii import PII_SAMPLES, with_scrubbed_text
from ocr_pipeline_spark.operators.textstats import (
    LANG_STOPWORDS,
    lang_id_multi,
    repetition_stats,
)

SAMPLES = [
    (0, "en", "the cat sat on the mat and it was not at all happy about "
              "this because the dog would not go away from the door"),
    (1, "de", "der hund ist nicht im haus und die katze sitzt auf dem "
              "dach mit einer taube die nur noch schlafen will"),
    (2, "es", "el perro no está en la casa y el gato se sienta en el "
              "tejado con una paloma que no quiere hacer nada más"),
    (3, "fr", "le chien est dans la maison et le chat est sur le toit "
              "avec une colombe qui ne veut pas faire plus que dormir"),
    (4, "unknown", "zzz qqq xxx vvv kkk www yyy nnn mmm ppp rrr ttt"),
]


@pytest.fixture(scope="module")
def sample_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, _, t in SAMPLES], "doc_id long, text string"
    )


def test_lang_id_multi_guesses(spark, sample_docs):
    got = {
        r["doc_id"]: r["lang_guess"]
        for r in lang_id_multi(sample_docs).collect()
    }
    assert got == {i: lang for i, lang, _ in SAMPLES}


def test_lang_id_multi_integer_evidence(spark, sample_docs):
    row = lang_id_multi(sample_docs).filter("doc_id = 1").first()
    assert row["de_hits"] > row["en_hits"]
    assert row["n_tokens"] > 0
    # evidence columns are exact integers (cross-engine recipe)
    for lg in LANG_STOPWORDS:
        assert isinstance(row[f"{lg}_hits"], int)


def test_stopword_lists_are_normalized():
    # membership is tested against normalized (lowercased) tokens — the
    # lists must already be in that form, and non-trivially sized
    for lg, words in LANG_STOPWORDS.items():
        assert words == [w.lower() for w in words], lg
        assert len(words) >= 30, lg
        assert len(set(words)) == len(words), lg


def test_repetition_separates_loops_from_prose(spark):
    rows = [
        (0, "spam spam spam spam spam spam spam spam"),
        (1, "a varied sentence with mostly distinct word pairs here"),
        (2, "x"),                       # shorter than the gram width
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(got) == {0, 1, 2}        # every doc yields a row
    assert got[0]["rep_ratio"] > 0.8    # one gram repeated 7 times
    assert got[0]["top_gram_frac"] == 1.0
    assert got[1]["rep_ratio"] == 0.0   # all pairs distinct
    assert got[2]["n_grams"] == 1 and got[2]["top_gram_count"] == 1


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(PII_SAMPLES)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in with_scrubbed_text(df).collect()}
    assert "<EMAIL>" in got[0]["scrubbed"] and got[0]["n_email"] == 1
    assert got[1]["scrubbed"].count("<IP>") == 2 and got[1]["n_ip"] == 2
    assert got[2]["scrubbed"].count("<PHONE>") == 2 and got[2]["n_phone"] == 2
    # precedence: an email's digits/dots never half-match as ip/phone
    assert got[3]["n_email"] == got[3]["n_ip"] == got[3]["n_phone"] == 1
    # clean text is untouched
    assert got[4]["scrubbed"] == PII_SAMPLES[4]
    assert got[5]["scrubbed"] == PII_SAMPLES[5]
    # precision: dates, ranges, spaced decimals, versions SURVIVE the
    # phone rule (a redaction false positive corrupts training text)
    for i in (6, 7, 8):
        assert got[i]["scrubbed"] == PII_SAMPLES[i], i
        assert got[i]["n_phone"] == 0
    # no raw pii survives anywhere
    for r in got.values():
        assert "@example" not in r["scrubbed"]
        assert "192.168" not in r["scrubbed"]


def test_tfidf_top_terms(spark):
    from ocr_pipeline_spark.operators.textstats import tfidf_top_terms

    rows = [
        (0, "apple banana apple apple common common"),
        (1, "banana cherry cherry common common"),
        (2, "common words only common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(df).collect()
    top = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in out
    }
    # 'apple' df=1 tf=3 dominates doc 0; 'common' df=3 → idf 0 never tops
    assert top[(0, 1)] == ("apple", 3, 1)
    assert top[(1, 1)] == ("cherry", 2, 1)
    assert all(t != "common" for (t, _, _) in
               [top[(d, 1)] for d in (0, 1)])
    # score for a df==N term is exactly 0
    # every doc has at most TFIDF_TOP_K distinct terms, so all are ranked
    zero = [r for r in out if r["term"] == "common"]
    assert zero and all(r["score"] == 0.0 for r in zero)


def test_null_text_is_engine_portable(spark):
    """NULL text coalesces to '' at the operator root: both engines see
    the SAME input, so the latent size(NULL)=-1 (Spark) vs len(NULL)=NULL
    (DuckDB) divergence can never surface. Cross-checked against the
    entry module's actual DuckDB fragments."""
    import pathlib
    import sys

    import duckdb
    import pandas as pd

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entrymod
    from ocr_pipeline_spark.operators.textstats import token_stats

    # 3-6: vertical tab separates on Java's \s (not RE2's); trim strips
    # spaces only, not U+3000; U+001C is no separator anywhere
    rows = [
        (1, None),
        (2, "Hello,  World"),
        (3, "a\x0bb"),
        (4, " a\u3000"),
        (5, "\u3000a b"),
        (6, "a\x1cb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in token_stats(df).collect()}
    # '' normalizes to one empty whitespace token, zero words/punct
    assert got[1] == {
        "doc_id": 1, "ws_tokens": 1, "words": 0, "norm_chars": 0,
        "punct_chars": 0, "distinct_tokens": 1,
    }

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    orows = {
        r[0]: r
        for r in con.execute(entrymod.oracle_sql()["ts_token_stats"]).fetchall()
    }
    for doc_id, r in got.items():
        assert tuple(orows[doc_id]) == (
            r["doc_id"], r["ws_tokens"], r["words"], r["norm_chars"],
            r["punct_chars"], r["distinct_tokens"],
        )

    # lang_id_multi and the PII counters on NULL text: defined, zero-ish
    got_l = {r["doc_id"]: r.asDict() for r in lang_id_multi(df).collect()}
    assert got_l[1]["lang_guess"] == "unknown"
    got_p = {
        r["doc_id"]: r.asDict() for r in with_scrubbed_text(df).collect()
    }
    assert got_p[1]["scrubbed"] == ""
    assert (got_p[1]["n_email"], got_p[1]["n_ip"], got_p[1]["n_phone"]) == (0, 0, 0)


def test_nfc_normalization_composes_and_flags(spark):
    import unicodedata

    from ocr_pipeline_spark.operators.textstats import (
        UNICODE_SAMPLES,
        with_nfc_text,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(UNICODE_SAMPLES)] + [(99, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["nfc_text"], r["changed"])
        for r in with_nfc_text(docs).collect()
    }
    for i, t in enumerate(UNICODE_SAMPLES):
        nfc = unicodedata.normalize("NFC", t)
        assert got[i] == (nfc, nfc != t)
    assert got[99] == ("", False)  # NULL text -> '' (engine recipe)
    # the fixtures must actually exercise the operator (non-vacuous)
    assert any(ch for _, ch in got.values())


def test_lang_id_ngram_classifies_and_handles_edges(spark):
    from ocr_pipeline_spark.operators.textstats import (
        lang_id_ngram,
        lang_trigram_sets,
    )

    sets = lang_trigram_sets()
    assert set(sets) == {"en", "de", "es", "fr"}
    assert all(len(v) == 30 and len(set(v)) == 30 for v in sets.values())
    rows = [
        (1, "the quick brown fox and the lazy dog in the park"),
        (2, "der hund und die katze sind nicht auf der wiese"),
        (3, "le chien et le chat sont dans la maison avec nous"),
        (4, "el perro y el gato están en la casa para todos"),
        (5, "zzz qqq"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id_ngram(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es",
                   5: "unknown", 6: "unknown"}


def test_source_drift_matches_exact_fractions(spark):
    """tvd_bp must equal floor(10000 * TVD) with TVD computed in exact
    rational arithmetic over the same normalization."""
    from fractions import Fraction

    from ocr_pipeline_spark.operators.textstats import source_drift

    rows = [
        (0, "a a b", "g1"),
        (1, "a b b c", "g2"),
        (2, "a a b b c", "g3"),   # closest to corpus mix
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["grp"]: (r["n_tokens"], r["vocab_g"], r["tvd_bp"])
           for r in source_drift(df).collect()}

    from collections import Counter
    corpus = Counter()
    groups: dict[str, Counter] = {}
    for _, t, g in rows:
        ts = t.split(" ")
        corpus.update(ts)
        groups.setdefault(g, Counter()).update(ts)
    n = sum(corpus.values())
    for g, cnt in groups.items():
        ng = sum(cnt.values())
        tvd = sum(
            abs(Fraction(cnt.get(t, 0), ng) - Fraction(c, n))
            for t, c in corpus.items()
        ) / 2
        want_bp = (10000 * tvd.numerator) // tvd.denominator
        assert got[g] == (ng, len(cnt), want_bp), g
    # drift is a distance: bounded, and the balanced group is closest
    assert all(0 <= v[2] <= 10000 for v in got.values())
    assert got["g3"][2] == min(v[2] for v in got.values())


def test_source_drift_zero_for_identical_distribution(spark):
    from ocr_pipeline_spark.operators.textstats import source_drift

    rows = [(0, "a b c", "g1"), (1, "a b c", "g2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert all(
        r["tvd_bp"] == 0 for r in source_drift(df).collect()
    )


def test_source_drift_partition_independent(spark):
    from ocr_pipeline_spark.operators.textstats import source_drift

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, source_drift(docs.repartition(1)).collect()))
    b = sorted(map(tuple, source_drift(docs.repartition(9)).collect()))
    assert a == b and len(a) == 20


def test_mojibake_matches_python_replay(spark):
    from ocr_pipeline_spark.operators.textstats import (
        MOJIBAKE_MARKERS,
        MOJIBAKE_SAMPLES,
        mojibake_stats,
    )

    rows = [(i, t) for i, t in enumerate(MOJIBAKE_SAMPLES)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_hits"], r["mojibake"])
        for r in mojibake_stats(df).collect()
    }
    for i, t in rows:
        n = sum((t or "").count(m) for m in MOJIBAKE_MARKERS)
        assert got[i] == (n, n > 0), i
    # the fixture corpus exercises both classes: broken rows flagged,
    # clean ascii AND real (correctly-decoded) utf-8 unflagged
    assert sum(1 for v in got.values() if v[1]) == 6
    assert got[4] == (0, False)   # plain ascii
    assert got[7] == (0, False)   # genuine utf-8 accents


def test_mojibake_is_scan_local(spark):
    """No shuffle at all: the flags are a single codegen projection."""
    from ocr_pipeline_spark.operators.textstats import mojibake_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = mojibake_stats(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert docs.count() == df.count()


def test_source_drift_randomized_matches_fractions(spark):
    """Seeded random corpora: tvd_bp must equal the exact rational TVD
    floor for every group, across several corpus shapes (one Spark job
    per corpus, 5 corpora)."""
    import random
    from collections import Counter
    from fractions import Fraction

    from ocr_pipeline_spark.operators.textstats import source_drift

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(5):
        rows = []
        for did in range(40):
            g = f"g{rng.randint(0, 3)}"
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60)))
            rows.append((did, text, g))
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {r["grp"]: r["tvd_bp"] for r in source_drift(df).collect()}

        corpus = Counter()
        groups = {}
        for _, t, g in rows:
            ts = t.split(" ")
            corpus.update(ts)
            groups.setdefault(g, Counter()).update(ts)
        n = sum(corpus.values())
        for g, cnt in groups.items():
            ng = sum(cnt.values())
            tvd = sum(
                abs(Fraction(cnt.get(t, 0), ng) - Fraction(c, n))
                for t, c in corpus.items()
            ) / 2
            assert got[g] == (10000 * tvd.numerator) // tvd.denominator, (
                trial, g,
            )


def test_lang_confusion_metrics_exact(spark):
    """Hand confusion: labels {x, y}, guesses mix — metrics must equal
    the textbook precision/recall/F1 computed by hand."""
    from unittest.mock import patch

    from ocr_pipeline_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "x"), (4, "d", "y")],
        "doc_id long, text string, lang string",
    )
    guesses = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "x")],
        "doc_id long, lang_guess string",
    )
    with patch.object(
        ts, "lang_id_multi", lambda df, text_col="text": guesses
    ):
        got = {
            r["lang"]: (
                r["tp"], r["fp"], r["fn"],
                r["precision_bp"], r["recall_bp"], r["f1_bp"],
            )
            for r in ts.lang_confusion(docs).collect()
        }
    # x: tp=2, fp=1 (doc 4), fn=1 (doc 3): p=6666, r=6666, f1=6666
    assert got["x"] == (2, 1, 1, 6666, 6666, 6666)
    # y: tp=0, fp=1 (doc 3), fn=1 (doc 4): all-zero metrics, no div0
    assert got["y"] == (0, 1, 1, 0, 0, 0)


def test_lang_confusion_on_corpus_is_consistent(spark):
    """On the synth corpus the per-class masses must re-add to the
    label counts, and metrics stay within [0, 10000]."""
    from collections import Counter

    from ocr_pipeline_spark.operators.textstats import lang_confusion

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = lang_confusion(docs).collect()
    label_counts = Counter(
        r["lang"] for r in docs.select("lang").collect()
    )
    for r in rows:
        assert r["tp"] + r["fn"] == label_counts[r["lang"]]
        for c in ("precision_bp", "recall_bp", "f1_bp"):
            assert 0 <= r[c] <= 10000
