"""Similarity-search tests: brute-force correctness vs numpy, ANN recall
vs the brute baseline on the driver's embeddings table."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_pipeline_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _numpy_topk(ids, mat, qid, k):
    qi = int(np.where(ids == qid)[0][0])
    q = mat[qi]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        ((round(s, 4), int(i)) for s, i in zip(sims, ids) if i != qid),
        key=lambda t: (-t[0], t[1]),
    )
    return [i for _, i in order[:k]]


def test_brute_force_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    got = brute_force_topk(emb, query_ids=[0, 1, 2], k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid in [0, 1, 2]:
        assert by_q[qid] == _numpy_topk(ids, mat, qid, 5), qid


def test_ann_recall_vs_brute(spark, emb):
    """Default config (3 planes × 6 tables) measured at recall 0.84 on
    this table; assert a robust floor and that returned neighbors are
    genuinely similar."""
    qids = list(range(10))
    brute = brute_force_topk(emb, query_ids=qids, k=5).collect()
    ann = ann_topk(emb, query_ids=qids, k=5).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in ann}
    recall = len(aset & bset) / len(bset)
    assert recall >= 0.6, f"recall {recall}"
    # ANN hits must rank within each query's true top-25
    top25 = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, query_ids=qids, k=25).collect()
    }
    good = len(aset & top25) / max(1, len(aset))
    assert good >= 0.8, f"ann precision vs top25: {good}"


def test_ann_deterministic(spark, emb):
    a = sorted(map(tuple, ann_topk(emb, query_ids=[0, 1], k=3).collect()))
    b = sorted(map(tuple, ann_topk(emb.repartition(9), query_ids=[0, 1], k=3).collect()))
    assert a == b


def test_rp_project_matches_python_fold(spark, emb, emb_np):
    """rp_project components must equal the sequential left-fold dot
    against the md5-derived planes (round 4dp, -0.0 folded to +0.0)."""
    from ocr_pipeline_spark.operators.similarity import (
        _plane_constants,
        rp_project,
    )

    ids, mat = emb_np
    planes = _plane_constants(16, 64, 7)

    def fold_dot(vec, plane):
        acc = 0.0
        for x, y in zip(vec, plane):
            acc = acc + x * y
        return round(acc, 4) + 0.0

    got = {r["vec_id"]: list(r["rp"]) for r in rp_project(emb).collect()}
    for row_i in range(0, len(ids), 37):  # sample every 37th vector
        vid = int(ids[row_i])
        want = [fold_dot(mat[row_i], p) for p in planes]
        assert got[vid] == pytest.approx(want, abs=0.0), vid


def test_rp_project_scan_local_and_deterministic(spark, emb):
    """Scale contract: the projection is one narrow stage — no Exchange
    — and independent of input partitioning."""
    from ocr_pipeline_spark.operators.similarity import rp_project

    df = rp_project(emb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = sorted((r["vec_id"], tuple(r["rp"])) for r in df.collect())
    b = sorted(
        (r["vec_id"], tuple(r["rp"]))
        for r in rp_project(emb.repartition(13)).collect()
    )
    assert a == b


def test_semantic_dedup_greedy_keep_rule(spark, emb, emb_np):
    """keep == 'no smaller-id row in my k-means cell has cos >= eps',
    replayed in numpy over the same cells the trainer assigns."""
    from ocr_pipeline_spark.operators.clustering import kmeans_assign
    from ocr_pipeline_spark.operators.similarity import semantic_dedup

    got = semantic_dedup(emb, k=8, iters=3, threshold=0.3).collect()
    ids, mat = emb_np
    assert len(got) == len(ids)  # one output row per input row
    cells = {
        r["vec_id"]: r["cell"]
        for r in kmeans_assign(emb, k=8, iters=3).collect()
    }
    assert {r["vec_id"]: r["cell"] for r in got} == cells

    idx = {int(v): i for i, v in enumerate(ids)}
    norm = np.linalg.norm(mat, axis=1)

    def cos4(a, b):
        return round(
            float(mat[idx[a]] @ mat[idx[b]]) / (norm[idx[a]] * norm[idx[b]]),
            4,
        )

    dropped = 0
    for r in got:
        smaller_dups = [
            o
            for o, c in cells.items()
            if c == r["cell"] and o < r["vec_id"] and cos4(o, r["vec_id"]) >= 0.3
        ]
        assert r["keep"] == (not smaller_dups), (r, smaller_dups)
        dropped += not r["keep"]
    assert 0 < dropped < len(ids)  # non-vacuous at this threshold


def test_semantic_dedup_deterministic_under_partitioning(spark, emb):
    from ocr_pipeline_spark.operators.similarity import semantic_dedup

    a = sorted(
        map(tuple, semantic_dedup(emb, k=8, iters=3, threshold=0.3).collect())
    )
    b = sorted(
        map(
            tuple,
            semantic_dedup(
                emb.repartition(11), k=8, iters=3, threshold=0.3
            ).collect(),
        )
    )
    assert a == b


def test_hashed_embedding_matches_python_replay(spark):
    import hashlib
    import math

    from ocr_pipeline_spark.operators.similarity import hashed_embedding

    rows = [(0, "a b c a"), (1, "a b c a"), (2, "x y z w q"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_toks"], r["embed"])
        for r in hashed_embedding(df).collect()
    }

    def h48(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:12], 16)

    def emb(text, dim=16):
        norm = " ".join((text or "").lower().split())
        toks = norm.split(" ")
        v = [0] * dim
        for t in toks:
            h = h48(t)
            v[h % dim] += 1 if (h // 16) % 2 == 1 else -1
        n = math.sqrt(sum(x * x for x in v))
        if n == 0:
            return ",".join("0.0000" for _ in v), len(toks)
        return (
            ",".join("%.4f" % (round(x / n, 4) + 0.0) for x in v),
            len(toks),
        )

    for i, t in rows:
        e, n = emb(t)
        assert got[i] == (n, e), i
    assert got[0] == got[1]           # deterministic featurizer


def test_hashed_embedding_feeds_cosine(spark):
    """The bridge contract: unpacking the embed string gives a unit
    vector whose self-cosine is 1 and whose cosine against a different
    doc is in [-1, 1]."""
    from ocr_pipeline_spark.operators.similarity import hashed_embedding

    df = spark.createDataFrame(
        [(0, "spark shuffles the partition keys"), (1, "entirely other words here")],
        "doc_id long, text string",
    )
    vecs = hashed_embedding(df).selectExpr(
        "doc_id",
        "transform(split(embed, ','), x -> cast(x as double)) AS v",
    )
    a = vecs.selectExpr(
        "doc_id",
        "aggregate(zip_with(v, v, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x) AS n2",
    ).collect()
    for r in a:
        assert abs(r["n2"] - 1.0) < 2e-3    # unit norm within rounding


def test_hashed_embedding_is_scan_local(spark):
    from ocr_pipeline_spark.operators.similarity import hashed_embedding

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = hashed_embedding(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_text_near_dup_end_to_end(spark):
    """The documents->hashed-embedding->LSH-cosine chain must flag a
    lightly-edited copy and not an unrelated doc, and the plan must
    stay the bucketed equi-join (never all-pairs). The hashed vectors
    are zero-padded to the VEC_DIM width the join buckets on."""
    from ocr_pipeline_spark.operators.similarity import (
        EMBED_DIM,
        VEC_DIM,
        cosine_near_dup,
        hashed_embedding,
    )

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base),
        (2, base.replace("w3", "edited")),
        (3, "totally different vocabulary " * 6),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = hashed_embedding(docs).selectExpr(
        "doc_id AS vec_id",
        "concat(transform(split(embed, ','), x -> cast(x as double)), "
        f"array_repeat(0D, {VEC_DIM - EMBED_DIM})) AS embedding",
    )
    out = cosine_near_dup(vecs, threshold=0.8)
    pairs = {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
