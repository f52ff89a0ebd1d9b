"""dup_clusters (connected components) and ivf_topk (IVF ANN) tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.dedup import dup_clusters
from ocr_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk

SF_DIR = "/root/testdata/sf0.001"


def test_dup_clusters_chain_and_islands(spark):
    # components: {1,2,3,4} (a chain), {10,11}, {20,21,22} (a star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_dup_clusters_partition_independent(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "doc_a long, doc_b long"
    )
    a = sorted(dup_clusters(pairs).collect())
    b = sorted(dup_clusters(pairs.repartition(7)).collect())
    assert a == b
    assert all(r["cluster_id"] == 1 for r in a)  # one long chain


def test_dup_clusters_cap_is_not_silent(spark, caplog):
    """An adversarial long chain with max_iter too small must SIGNAL a
    warning — never return possibly-split labels silently."""
    import logging

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "doc_a long, doc_b long"
    )
    with caplog.at_level(
        logging.WARNING, logger="ocr_pipeline_spark.operators.dedup"
    ):
        dup_clusters(pairs, max_iter=1).collect()
    assert any("did not converge" in r.message for r in caplog.records)

    # converged runs stay quiet
    caplog.clear()
    with caplog.at_level(
        logging.WARNING, logger="ocr_pipeline_spark.operators.dedup"
    ):
        dup_clusters(pairs).collect()
    assert not any("did not converge" in r.message for r in caplog.records)


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.persist()
    df.count()
    return df


def test_ivf_recall_vs_brute_force(spark, emb):
    qids = list(range(10))
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, qids, k=5, n_probe=8).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # more probes → recall can only improve (monotonicity)
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, qids, k=5, n_probe=16).collect()
    }
    assert full == truth  # probing all cells == exact


def test_ivf_deterministic(spark, emb):
    a = sorted(ivf_topk(emb, [0, 1, 2], k=3).collect())
    b = sorted(ivf_topk(emb.repartition(5), [0, 1, 2], k=3).collect())
    assert a == b
