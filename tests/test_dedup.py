"""Functional dedup tests on planted near-duplicates (the oracle harness
in test_entry.py proves cross-engine parity; these prove the operators
actually find duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.dedup import (
    boilerplate_scrub,
    chunk_dedup,
    exact_dedup,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_candidate_pairs,
    simhash_signatures,
    simhash_table_combos,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree "
    "near the quiet river bend where children play every summer afternoon"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("quick", "swift")),        # near dup of 0
        (3, BASE.replace("summer", "spring") + " extra words at the end"),
        (4, "completely different content about spark shuffle partitions "
            "and arrow record batches in distributed query engines with "
            "columnar storage and vectorized execution kernels"),
        (5, "another unrelated document mentioning lineage manifests and "
            "checkpoint resume semantics for idempotent batch pipelines "
            "processing common crawl web archive snapshots"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, corpus):
    groups = {r["fingerprint"]: r for r in exact_dedup(corpus).collect()}
    dup = [g for g in groups.values() if g["n_docs"] == 2]
    assert len(dup) == 1
    assert dup[0]["canonical_doc_id"] == 0
    assert sum(g["n_docs"] for g in groups.values()) == 6


def test_minhash_lsh_finds_near_dups(spark, corpus):
    sigs = minhash_signatures(corpus)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in lsh_candidate_pairs(sigs, bands=4, rows_per_band=2).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 4  # identical: all bands
    assert (0, 2) in pairs or (1, 2) in pairs      # near-dup collides
    assert all({a, b} != {4, 5} for a, b in pairs) # unrelated don't


def test_jaccard_verify_scores(spark, corpus):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 4)], "doc_a long, doc_b long"
    )
    j = {(r["doc_a"], r["doc_b"]): r["jaccard"]
         for r in jaccard_verify(corpus, pairs).collect()}
    assert j[(0, 1)] == 1.0
    assert 0.7 < j[(0, 2)] < 1.0
    assert j[(0, 4)] == 0.0


def test_simhash_hamming_separates(spark, corpus):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_signatures(corpus).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert sh[0] == sh[1]
    assert ham(sh[0], sh[2]) <= 12      # near dup: few bits differ
    assert ham(sh[0], sh[4]) >= 15      # unrelated: many bits differ


def test_simhash_pairs_exact_recall_at_threshold(spark):
    """Pigeonhole guarantee: every pair with hamming ≤ max_hamming is
    found — verified against the brute-force pair set on a corpus with
    planted bit-level neighbors."""
    base = 0x0FEDCBA987654321 & ((1 << 60) - 1)
    sigs = [
        (0, base),
        (1, base),                      # hamming 0
        (2, base ^ 0b101),              # hamming 2
        (3, base ^ (1 << 59) ^ 1 ^ 2),  # hamming 3, bits in far blocks
        (4, base ^ 0b11110000),         # hamming 4 → excluded
        (5, (~base) & ((1 << 60) - 1)), # hamming 60
    ]
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidate_pairs(df).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    want = {
        (i, j): ham(si, sj)
        for i, si in sigs
        for j, sj in sigs
        if i < j and ham(si, sj) <= 3
    }
    assert got == want
    # and the excluded pairs really are above threshold, not just missed
    assert ham(sigs[4][1], sigs[0][1]) == 4


def test_simhash_table_combos_cover_threshold():
    # C(6, 3) tables of 3 blocks each — the Manku WWW'07 configuration
    combos = simhash_table_combos()
    assert len(combos) == 20
    assert all(len(c) == 3 for c in combos)


def test_simhash_pairs_on_text_corpus(spark, corpus):
    """End-to-end over text: exact dup found at hamming 0; unrelated
    docs never pair."""
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_candidate_pairs(simhash_signatures(corpus)).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_signatures_independent_of_partitioning(spark, corpus):
    a = sorted(minhash_signatures(corpus.repartition(1)).collect())
    b = sorted(minhash_signatures(corpus.repartition(7)).collect())
    assert a == b


def test_simhash_matches_duckdb_oracle_on_edge_text(spark):
    """The dd_simhash oracle is the SimHash definition. Internal non-ASCII
    whitespace is a token character on both engines (their \\s is
    ASCII-only), vertical tab separates tokens, edge U+3000 survives the
    trim, NULL signs like '', and a NULL in the Arrow batch must not turn
    the 60-bit signatures into doubles."""
    import duckdb

    import __spark_entry__ as entrymod

    rows = [
        (1, "alpha\xa0beta gamma"),
        (2, "alpha\u2003beta gamma"),
        (3, "alpha\x1cbeta gamma"),
        (4, None),
        (5, ""),
        (6, "plain ascii text"),
        (7, "  Mixed\tASCII \n whitespace\r\n"),
        (8, "a\x0bb c"),
        (9, "\u3000alpha beta gamma\u3000"),
    ]
    # one partition: the NULL row shares its Arrow batch with the rest
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = dict(con.execute(entrymod.oracle_sql()["dd_simhash"]).fetchall())
    assert got == want
    assert got[4] == got[5]


def test_chunk_dedup_semantics(spark):
    # doc 10: 12 tokens -> chunks [t0..t9], [t10 t11]
    # doc 20: same first chunk (winner is doc 10), unique tail
    # doc 30: exact copy of doc 10 -> loses everything
    # doc 40: '' text -> one '' chunk, shared corpus-wide with nothing
    # doc 50: NULL text -> normalizes like doc 40 ('' chunk, loses to it)
    base = " ".join(f"t{i}" for i in range(10))
    rows = [
        (10, base + " t10 t11"),
        (20, base + " u0 u1"),
        (30, base + " t10 t11"),
        (40, ""),
        (50, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["dedup_text"], r["n_chunks"], r["n_kept"])
        for r in chunk_dedup(docs).collect()
    }
    assert got[10] == (base + " t10 t11", 2, 2)
    assert got[20] == ("u0 u1", 2, 1)       # first chunk lost to doc 10
    assert got[30] == ("", 2, 0)            # full duplicate vanishes
    assert got[40] == ("", 1, 1)            # '' chunk, doc 40 wins it
    assert got[50] == ("", 1, 0)            # NULL normalizes to '' too


def test_boilerplate_scrub_semantics(spark):
    # base chunk appears in docs 10/20/30 -> df=3 > max_df=2 -> scrubbed
    # from ALL of them (including the would-be chunk_dedup winner);
    # 't10 t11' df=2 and '' df=2 -> at the threshold, kept EVERYWHERE
    # (contrast chunk_dedup, which keeps one winner copy only)
    base = " ".join(f"t{i}" for i in range(10))
    rows = [
        (10, base + " t10 t11"),
        (20, base + " u0 u1"),
        (30, base + " t10 t11"),
        (40, ""),
        (50, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["scrub_text"], r["n_chunks"], r["n_kept"])
        for r in boilerplate_scrub(docs).collect()
    }
    assert got[10] == ("t10 t11", 2, 1)
    assert got[20] == ("u0 u1", 2, 1)
    assert got[30] == ("t10 t11", 2, 1)
    assert got[40] == ("", 1, 1)
    assert got[50] == ("", 1, 1)   # NULL normalizes to '', df=2 kept


def test_boilerplate_scrub_partition_independent(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, boilerplate_scrub(docs.repartition(1)).collect()))
    b = sorted(map(tuple, boilerplate_scrub(docs.repartition(7)).collect()))
    assert a == b


def test_boilerplate_scrub_rejects_bad_args(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        boilerplate_scrub(docs, k=0)
    with pytest.raises(ValueError):
        boilerplate_scrub(docs, max_df=0)


def test_boilerplate_scrub_matches_python_replay(spark):
    """Value check on real data: replay the document-frequency rule in
    Python over the same normalization and compare every document."""
    import re as _re
    from collections import Counter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["scrub_text"], r["n_chunks"], r["n_kept"])
        for r in boilerplate_scrub(docs).collect()
    }

    def chunks_of(text):
        norm = _re.sub(r"\s+", " ", (text or "").lower(), flags=_re.ASCII
                       ).strip(" ")
        toks = norm.split(" ") if norm else [""]
        return [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]

    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    df = Counter()
    for did, text in texts.items():
        for c in set(chunks_of(text)):
            df[c] += 1
    n_scrubbed = 0
    for did, text in texts.items():
        cs = chunks_of(text)
        kept = [c for c in cs if df[c] <= 2]
        n_scrubbed += len(cs) - len(kept)
        assert got[did] == (" ".join(kept), len(cs), len(kept)), did
    assert n_scrubbed > 0   # the synthetic corpus must exercise the rule


def test_chunk_dedup_partition_independent(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, chunk_dedup(docs.repartition(1)).collect()))
    b = sorted(map(tuple, chunk_dedup(docs.repartition(7)).collect()))
    assert a == b


def test_chunk_dedup_preserves_content_invariants(spark):
    """Corpus-level properties on real data: (a) the number of kept
    chunks equals the number of DISTINCT chunks corpus-wide; (b) every
    doc's dedup_text is a subsequence of its chunking (winner chunks in
    original order); (c) a doc whose chunks are all unique corpus-wide
    survives verbatim."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = chunk_dedup(docs).collect()
    total_kept = sum(r["n_kept"] for r in rows)

    # recompute chunking in Python (same normalization the engine uses)
    import re as _re

    def chunks_of(text):
        norm = _re.sub(r"\s+", " ", (text or "").lower(), flags=_re.ASCII
                       ).strip(" ")
        toks = norm.split(" ") if norm else [""]
        return [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]

    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    all_chunks = [c for t in texts.values() for c in chunks_of(t)]
    assert total_kept == len(set(all_chunks))
    # EXACT expectation: replay the corpus-wide first-occurrence
    # election ((doc_id, chunk_idx) lexicographic winners) in Python
    winners: dict[str, tuple[int, int]] = {}
    for d in sorted(texts):
        for i, c in enumerate(chunks_of(texts[d])):
            winners.setdefault(c, (d, i))
    for r in rows:
        own = chunks_of(texts[r["doc_id"]])
        assert r["n_chunks"] == len(own)
        expect = [
            c
            for i, c in enumerate(own)
            if winners[c] == (r["doc_id"], i)
        ]
        assert r["n_kept"] == len(expect)
        assert r["dedup_text"] == " ".join(expect)


class TestContainment:
    def test_planted_quote_detected_asymmetrically(self, spark):
        from ocr_pipeline_spark.operators.dedup import containment_pairs

        base = (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon"
        )
        quote = "delta epsilon zeta eta theta iota kappa lambda"
        docs = spark.createDataFrame(
            [
                (0, base),
                (1, quote),  # fully contained in 0
                (2, "totally different words nothing shared here at all"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["src_id"], r["dst_id"]): r["containment_bp"]
            for r in containment_pairs(docs, threshold_bp=0).collect()
        }
        # quote -> base is full containment; base -> quote is partial
        assert got[(1, 0)] == 10000
        assert got.get((0, 1), 0) < 10000
        assert (2, 0) not in got and (0, 2) not in got

    def test_max_fp_df_drops_ubiquitous_fingerprints(self, spark):
        from ocr_pipeline_spark.operators.dedup import (
            CONTAINMENT_MAX_FP_DF,
            containment_pairs,
        )

        shared = "common boilerplate footer text repeated on every page"

        def pairs(n_docs):
            # identical pages: every fingerprint has df == n_docs (a
            # unique tail would let winnowing pick boundary fingerprints
            # in only some of the pages)
            docs = spark.createDataFrame(
                [(i, shared) for i in range(n_docs)], "doc_id long, text string"
            )
            return containment_pairs(docs, threshold_bp=0).count()

        # one page more than the cap: the boilerplate fingerprints are
        # dropped and no candidate pairs survive
        assert pairs(CONTAINMENT_MAX_FP_DF + 1) == 0
        # at the cap, the boilerplate links every ordered pair
        n = CONTAINMENT_MAX_FP_DF
        assert pairs(n) == n * (n - 1)

    def test_candidate_join_moves_no_text(self, spark):
        from ocr_pipeline_spark.operators.dedup import containment_pairs

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        df = containment_pairs(docs)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        for b in buf.getvalue().split("\n\n"):
            if b.lstrip().startswith("(") and ") Exchange" in b.splitlines()[0]:
                assert "text#" not in b, b


class TestDupSpans:
    """dup_spans (Lee et al. exact-substring coverage): hand-computed
    interval unions on planted overlaps; cross-engine parity is proved
    by the dd_dup_spans oracle in test_entry.py."""

    @pytest.fixture(scope="class")
    def got(self, spark):
        from ocr_pipeline_spark.operators.dedup import dup_spans

        def toks(prefix, idxs):
            return " ".join(f"{prefix}{i}" for i in idxs)

        rows = [
            # pair A: 8-token overlap p4..p11 (doc 20 = suffix + fresh)
            (10, toks("p", range(12))),
            (20, toks("p", range(4, 12)) + " " + toks("q", range(4))),
            # pair B: exact copies -> full coverage
            (30, toks("r", range(12))),
            (50, toks("r", range(12))),
            # gap pair: two disjoint shared 4-runs, distinct middles ->
            # interval union must NOT bridge the gap
            (60, "g0 g1 g2 g3 w0 w1 w2 h0 h1 h2 h3 w3"),
            (61, "g0 g1 g2 g3 v0 v1 v2 h0 h1 h2 h3 v3"),
            # shorter than n -> no windows
            (40, "x y"),
            # unique -> zero coverage
            (70, toks("u", range(12))),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_bp"])
            for r in dup_spans(docs, n=4).collect()
        }

    def test_partial_overlap_coverage(self, got):
        # dup windows at positions 4..8 (doc 10) / 0..4 (doc 20):
        # contiguous union = 8 of 12 tokens
        assert got[10] == (12, 8, 6666)
        assert got[20] == (12, 8, 6666)

    def test_exact_copies_fully_covered(self, got):
        assert got[30] == (12, 12, 10000)
        assert got[50] == (12, 12, 10000)

    def test_gap_not_bridged(self, got):
        # dup positions {0, 7}: union [0,4) + [7,11) = 8, not 11
        assert got[60] == (12, 8, 6666)
        assert got[61] == (12, 8, 6666)

    def test_short_and_unique_docs_zero(self, got):
        assert got[40] == (2, 0, 0)
        assert got[70] == (12, 0, 0)

    def test_partition_independent(self, spark):
        from ocr_pipeline_spark.operators.dedup import dup_spans

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        a = sorted(map(tuple, dup_spans(docs.repartition(1)).collect()))
        b = sorted(map(tuple, dup_spans(docs.repartition(7)).collect()))
        assert a == b
        # sanity bounds: coverage never exceeds the token count
        assert all(d <= n for (_, n, d, _) in a)


def test_cross_source_chunks_matches_python_replay(spark):
    """Replay the shared-chunk matrix in Python over the same
    normalization and compare every source pair."""
    import re as _re
    from itertools import combinations

    from ocr_pipeline_spark.operators.dedup import cross_source_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r["shared_chunks"]
        for r in cross_source_chunks(docs).collect()
    }

    def chunks_of(text):
        norm = _re.sub(
            r"\s+", " ", (text or "").lower(), flags=_re.ASCII
        ).strip(" ")
        toks = norm.split(" ")
        return {
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        }

    per_source: dict[str, set] = {}
    for r in docs.select("source", "text").collect():
        per_source.setdefault(r["source"], set()).update(
            chunks_of(r["text"])
        )
    want = {}
    for a, b in combinations(sorted(per_source), 2):
        n = len(per_source[a] & per_source[b])
        if n:
            want[(a, b)] = n
    assert got == want
    assert len(want) > 0          # corpus must exercise the matrix
    assert len(set(want.values())) > 1   # and not degenerately


def test_cross_source_chunks_is_strictly_cross(spark):
    from ocr_pipeline_spark.operators.dedup import cross_source_chunks

    rows = [
        (1, "a b c d e f g h i j", "s1"),
        (2, "a b c d e f g h i j", "s1"),  # same-source dup: excluded
        (3, "a b c d e f g h i j", "s2"),
        (4, "k l m n o p q r s t", "s3"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = {
        (r["source_a"], r["source_b"]): r["shared_chunks"]
        for r in cross_source_chunks(docs).collect()
    }
    assert got == {("s1", "s2"): 1}


def test_template_report_semantics(spark):
    """Planted template: a chunk shared by 4 docs must rank first with
    the right df/occurrence counts and its verbatim text attached."""
    from ocr_pipeline_spark.operators.dedup import template_report

    tpl = " ".join(f"nav{i}" for i in range(10))
    rows = [
        (1, tpl + " body one"),
        (2, tpl + " body two"),
        (3, tpl + " " + tpl),          # two occurrences, one doc
        (4, tpl + " body four"),
        (5, "unique prose entirely " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = template_report(docs, min_df=3, top_n=5).collect()
    assert got and got[0]["chunk_text"] == tpl
    assert got[0]["df"] == 4
    assert got[0]["n_occurrences"] == 5
    assert got[0]["example_doc_id"] == 1


def test_template_report_plan_attaches_text_to_winners_only(spark):
    from ocr_pipeline_spark.operators.dedup import template_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = template_report(docs, min_df=3, top_n=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
