"""Unit tests for the Bloom-filter membership sketch
(operators/bloom.py). Cross-engine value parity lives in test_entry.py
(sk_bloom oracle); these pin the structural guarantees — no false
negatives, bitmap packing vs the distinct-position set — and the probe's
broadcast-join plan shape.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.bloom import (
    WORD_BITS,
    bloom_build,
    bloom_gate,
    bloom_probe,
)

M, K = 512, 3


def _n_set(words) -> int:
    return words.agg(F.sum(F.bit_count("word"))).first()[0]


def _py_positions(v: str) -> set[int]:
    return {
        int(hashlib.md5(f"{v}#b{i}".encode()).hexdigest()[:12], 16) % M
        for i in range(K)
    }


@pytest.fixture(scope="module")
def keysets(spark):
    members = [f"key-{i}" for i in range(60)]
    others = [f"other-{i}" for i in range(400)]
    mdf = spark.createDataFrame([(v,) for v in members], "v string")
    pdf = spark.createDataFrame(
        [(v, v in set(members)) for v in members + others],
        "v string, is_member boolean",
    )
    return members, others, mdf, pdf


def test_no_false_negatives(spark, keysets):
    members, _, mdf, pdf = keysets
    words = bloom_build(mdf, "v", m_bits=M, n_hashes=K)
    got = {
        r["v"]: r["maybe_member"]
        for r in bloom_probe(pdf, words, "v", m_bits=M, n_hashes=K).collect()
    }
    assert all(got[v] for v in members)


def test_false_positives_exist_but_bounded(spark, keysets):
    # 60 keys * 3 hashes into 512 bits -> fill ~0.30, fp ~2.6%: the
    # undersized-filter regime the sk_bloom query also exercises.
    _, others, mdf, pdf = keysets
    words = bloom_build(mdf, "v", m_bits=M, n_hashes=K)
    got = bloom_probe(pdf, words, "v", m_bits=M, n_hashes=K)
    fp = got.filter(
        (~F.col("is_member")) & F.col("maybe_member")
    ).count()
    assert 0 < fp < len(others) * 0.15


def test_packing_matches_python_positions(spark, keysets):
    members, _, mdf, _ = keysets
    want_bits = set()
    for v in members:
        want_bits |= _py_positions(v)
    built = bloom_build(mdf, "v", m_bits=M, n_hashes=K)
    words = {r["word_idx"]: r["word"] for r in built.collect()}
    got_bits = {
        w * WORD_BITS + b
        for w, word in words.items()
        for b in range(WORD_BITS)
        if (word >> b) & 1
    }
    assert got_bits == want_bits
    assert _n_set(built) == len(want_bits)


def test_null_keys_excluded(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("b",)], "v string"
    )
    words = bloom_build(df, "v", m_bits=M, n_hashes=K)
    assert _n_set(words) == len(_py_positions("a") | _py_positions("b"))


def test_m_bits_word_multiple_guard(spark):
    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="multiple"):
        bloom_build(df, "v", m_bits=100, n_hashes=2)


def test_gate_statuses(spark, keysets):
    members, others, mdf, _ = keysets
    # increment: 20 re-ingested known keys + 200 unseen keys
    inc = spark.createDataFrame(
        [(v,) for v in members[:20] + others[:200]], "v string"
    )
    got = {
        r["v"]: r["status"]
        for r in bloom_gate(inc, mdf, "v", m_bits=M, n_hashes=K).collect()
    }
    assert len(got) == 220
    # every re-ingested key is a dup — never 'new', never 'fp'
    assert all(got[v] == "dup" for v in members[:20])
    # unseen keys are 'new' or 'fp', never 'dup'
    unseen = [got[v] for v in others[:200]]
    assert "dup" not in unseen and unseen.count("new") > 150
    # fp rate at this fill is small but non-zero in expectation; the
    # split must be exact vs a python replay of the filter
    all_bits = set()
    for v in members:
        all_bits |= _py_positions(v)
    for v in others[:200]:
        want = "fp" if _py_positions(v) <= all_bits else "new"
        assert got[v] == want


def test_probe_plan_is_broadcast_join(spark, keysets):
    # the filter state must reach the probe side as a broadcast — a
    # shuffled join here would move the whole probe corpus for a
    # lookup into an m/32-row table
    _, _, mdf, pdf = keysets
    words = bloom_build(mdf, "v", m_bits=M, n_hashes=K)
    plan = (
        bloom_probe(pdf, words, "v", m_bits=M, n_hashes=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
