"""Deterministic splits: stability and fraction accuracy."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.splits import (
    domain_cap,
    hash_split,
    reservoir_per_stratum,
    stratified_sample,
)

FR = {"train": 0.8, "valid": 0.1, "test": 0.1}


def test_hash_split_fractions_and_stability(spark):
    docs = spark.range(20_000).withColumnRenamed("id", "doc_id")
    a = hash_split(docs, "doc_id", FR)
    counts = {r["split"]: r["count"] for r in a.groupBy("split").count().collect()}
    assert set(counts) == {"train", "valid", "test"}
    assert abs(counts["train"] / 20_000 - 0.8) < 0.02
    assert abs(counts["valid"] / 20_000 - 0.1) < 0.01
    # stability: identical under repartitioning and re-evaluation
    b = hash_split(docs.repartition(13), "doc_id", FR)
    assert sorted(a.collect()) == sorted(b.collect())


def test_stratified_sample_rates_and_nesting(spark):
    docs = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("zh")
        .alias("lang"),
    )
    kept = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 0.1}, default_rate=0.0
    )
    counts = {
        r["lang"]: r["count"] for r in kept.groupBy("lang").count().collect()
    }
    assert "zh" not in counts                      # default 0 drops stratum
    assert abs(counts["en"] / 10_000 - 0.5) < 0.02
    assert abs(counts["de"] / 10_000 - 0.1) < 0.01
    # nested-sample property: raising a rate only ADDS rows
    small = set(r["doc_id"] for r in kept.collect())
    bigger = set(
        r["doc_id"]
        for r in stratified_sample(
            docs, "doc_id", "lang", {"en": 0.8, "de": 0.3}, default_rate=0.0
        ).collect()
    )
    assert small <= bigger
    # rerun/repartition stability
    again = set(
        r["doc_id"]
        for r in stratified_sample(
            docs.repartition(7), "doc_id", "lang", {"en": 0.5, "de": 0.1}
        ).collect()
    )
    assert small == again


def test_reservoir_per_stratum_size_nesting_stability(spark):
    docs = spark.range(9_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "de")
        .otherwise("zh")
        .alias("lang"),
    )
    # tiny stratum to exercise the fewer-than-k case
    docs = docs.union(
        spark.createDataFrame([(100_000, "ko")], "doc_id long, lang string")
    )
    out = reservoir_per_stratum(docs, "doc_id", "lang", k=50)
    counts = {
        r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()
    }
    assert counts == {"en": 50, "de": 50, "zh": 50, "ko": 1}
    # nested: k=20 sample is a subset of k=50
    small = set(
        r["doc_id"]
        for r in reservoir_per_stratum(docs, "doc_id", "lang", k=20).collect()
    )
    big = set(r["doc_id"] for r in out.collect())
    assert small <= big and len(small) == 61
    # rerun/repartition stability
    again = set(
        r["doc_id"]
        for r in reservoir_per_stratum(
            docs.repartition(7), "doc_id", "lang", k=50
        ).collect()
    )
    assert big == again


def test_domain_cap_quota_and_preference(spark):
    docs = spark.createDataFrame(
        [
            (i, f"d{i % 4}", 1000 - i if i % 4 != 3 else 7)
            for i in range(400)
        ],
        "doc_id long, source string, n_chars long",
    )
    out = domain_cap(docs, "source", cap=10, order_col="n_chars",
                     id_col="doc_id")
    counts = {
        r["source"]: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    assert counts == {f"d{i}": 10 for i in range(4)}
    # keeps the HIGHEST order_col per domain (d0: ids 0,4,...,36)
    d0 = sorted(
        r["doc_id"] for r in out.filter(F.col("source") == "d0").collect()
    )
    assert d0 == [4 * i for i in range(10)]
    # ties (d3: all n_chars=7) break by id — deterministic under rerun
    d3a = sorted(
        r["doc_id"] for r in out.filter(F.col("source") == "d3").collect()
    )
    assert d3a == [4 * i + 3 for i in range(10)]
    # a domain under the cap keeps everything
    small = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 6)], "doc_id long, source string, n_chars long"
    )
    assert domain_cap(small, "source", 10, "n_chars", "doc_id").count() == 2


def test_pack_sequences_layout(spark):
    from ocr_pipeline_spark.operators.splits import pack_sequences

    rows = [(i, 300) for i in range(6)]          # 300-token docs, budget 512
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = {
        r["doc_id"]: (r["bin_idx"], r["bin_offset"])
        for r in pack_sequences(df, "n", budget=512).collect()
    }
    # starts at 0,300,600,900,1200,1500 → bins 0,0,1,1,2,2
    assert out == {
        0: (0, 0), 1: (0, 300), 2: (1, 88), 3: (1, 388), 4: (2, 176),
        5: (2, 476),
    }
    # deterministic under repartitioning
    again = {
        r["doc_id"]: (r["bin_idx"], r["bin_offset"])
        for r in pack_sequences(df.repartition(5), "n", budget=512).collect()
    }
    assert again == out
    # sharding restarts offsets per shard: 3 docs of 300 tokens each →
    # per-shard starts 0, 300, 600 → bins 0, 0, 1
    sharded = df.withColumn("sh", (F.col("doc_id") % 2).cast("string"))
    per = {
        (r["shard"], r["doc_id"]): (r["bin_idx"], r["bin_offset"])
        for r in pack_sequences(
            sharded, "n", budget=512, shard_col="sh"
        ).collect()
    }
    assert per == {
        ("0", 0): (0, 0), ("0", 2): (0, 300), ("0", 4): (1, 88),
        ("1", 1): (0, 0), ("1", 3): (0, 300), ("1", 5): (1, 88),
    }


def test_epoch_shuffle_is_a_permutation_and_epoch_varies(spark):
    from ocr_pipeline_spark.operators.splits import epoch_shuffle

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    e1 = epoch_shuffle(docs, n_shards=4, epoch=1).collect()
    assert len(e1) == 300
    # every doc exactly once; positions are 1..count(shard) per shard
    assert len({r["doc_id"] for r in e1}) == 300
    by_shard: dict[int, list[int]] = {}
    for r in e1:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # deterministic under repartitioning
    e1b = epoch_shuffle(docs.repartition(7), n_shards=4, epoch=1).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e1b))
    # a different epoch yields a different permutation
    e2 = epoch_shuffle(docs, n_shards=4, epoch=2).collect()
    assert sorted(map(tuple, e1)) != sorted(map(tuple, e2))


def test_mix_token_budget_rates_and_cap(spark):
    from ocr_pipeline_spark.operators.splits import mix_token_budget

    # source a: 10 docs x 100 toks = 1000; source b: 10 x 50 = 500
    rows = [(i, "a", 100) for i in range(10)] + [
        (100 + i, "b", 50) for i in range(10)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_toks long"
    )
    # budget 600: a wants 300/1000 -> 3000bp; b wants 600*5000/10000=300
    # of 500 -> 6000bp
    out = mix_token_budget(
        docs, {"a": 5000, "b": 5000}, budget=600
    ).collect()
    rates = {r["source"]: r["rate_bp"] for r in out}
    assert rates == {"a": 3000, "b": 6000}
    # cap: budget larger than availability -> keep everything
    full = mix_token_budget(docs, {"a": 10000}, budget=100_000).collect()
    assert len(full) == 10
    assert all(r["rate_bp"] == 10000 and r["source"] == "a" for r in full)
    # unlisted sources are dropped entirely
    assert {r["source"] for r in out} <= {"a", "b"}
    # deterministic under repartition
    again = mix_token_budget(
        docs.repartition(5), {"a": 5000, "b": 5000}, budget=600
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError):
        mix_token_budget(docs, {"a": 20000}, budget=1)
    with pytest.raises(ValueError):
        mix_token_budget(docs, {"a": 100}, budget=-5)


class TestTemperatureShares:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, source string, n_toks long"
        )

    def test_isqrt_exactness_and_t1_identity(self, spark):
        from ocr_pipeline_spark.operators.splits import temperature_shares

        import math

        rows = [
            (i, f"s{i}", n)
            for i, n in enumerate(
                [0, 1, 2, 3, 4, 99, 100, 101, 10**6 - 1, 10**6, 10**12 + 7]
            )
        ]
        got = {
            r["source"]: r["w"]
            for r in temperature_shares(
                self._df(spark, rows), temperature_x2=4
            ).collect()
        }
        for i, (_, s, n) in enumerate(rows):
            assert got[s] == math.isqrt(n), (s, n)
        # T=1: weights are the token counts themselves
        t1 = {
            r["source"]: (r["w"], r["share_bp"], r["natural_bp"])
            for r in temperature_shares(
                self._df(spark, rows), temperature_x2=2
            ).collect()
        }
        for s, (w, sh, nat) in t1.items():
            assert sh == nat

    def test_temperature_flattens_shares(self, spark):
        from ocr_pipeline_spark.operators.splits import temperature_shares

        rows = [(0, "big", 1_000_000), (1, "small", 10_000)]
        got = {
            r["source"]: r
            for r in temperature_shares(
                self._df(spark, rows), temperature_x2=4
            ).collect()
        }
        # T=2 lifts the small source above its natural share and the
        # T=4 form flattens further
        assert got["small"]["share_bp"] > got["small"]["natural_bp"]
        t4 = {
            r["source"]: r["share_bp"]
            for r in temperature_shares(
                self._df(spark, rows), temperature_x2=8
            ).collect()
        }
        assert t4["small"] > got["small"]["share_bp"]

    def test_temperature_guard(self, spark):
        from ocr_pipeline_spark.operators.splits import temperature_shares

        import pytest as _pytest

        with _pytest.raises(ValueError, match="temperature_x2"):
            temperature_shares(self._df(spark, [(0, "a", 1)]), 3)


def test_curriculum_order_invariants(spark):
    """Phases are balanced ntile bands, pos is a 1..n rank within each
    (phase, shard), and the whole ordering is partition-independent."""
    from collections import Counter

    from ocr_pipeline_spark.operators.splits import curriculum_order

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = curriculum_order(docs).collect()
    assert len(rows) == 500
    phases = Counter(r["phase"] for r in rows)
    assert set(phases) == {1, 2, 3}
    assert max(phases.values()) - min(phases.values()) <= 1
    grp = {}
    for r in rows:
        grp.setdefault((r["phase"], r["shard"]), []).append(r["pos"])
    assert all(
        sorted(v) == list(range(1, len(v) + 1)) for v in grp.values()
    )
    again = sorted(map(tuple, curriculum_order(docs.repartition(7)).collect()))
    assert again == sorted(map(tuple, rows))


def test_curriculum_easy_phase_has_lower_surprisal(spark):
    """Phase 1 must be the low-surprisal (fluent) band — the point of a
    curriculum."""
    from ocr_pipeline_spark.operators.lm import lm_surprisal
    from ocr_pipeline_spark.operators.splits import curriculum_order

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = {
        r["doc_id"]: r["surprisal_bp"] for r in lm_surprisal(docs).collect()
    }
    ph = {
        r["doc_id"]: r["phase"] for r in curriculum_order(docs).collect()
    }
    p1 = [sc[d] for d, p in ph.items() if p == 1]
    p3 = [sc[d] for d, p in ph.items() if p == 3]
    assert max(p1) <= min(p3)
