"""Multimodal binary-column plumbing tests: typed metadata decode,
error routing, frame fan-out, feature extraction shape/determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_media_meta,
    feature_of,
    format_feature,
    frame_sample,
    media_features_packed,
    synth_media,
)

N = 120


@pytest.fixture(scope="module")
def media_df(spark):
    df = spark.createDataFrame(synth_media(N), schema=MEDIA_SCHEMA)
    df.persist()
    df.count()
    return df


def test_decode_meta_types_and_errors(spark, media_df):
    meta = decode_media_meta(media_df)
    rows = {r["media_id"]: r for r in meta.collect()}
    assert len(rows) == N
    corrupt = [i for i in range(N) if i % 23 == 7]
    for i, r in rows.items():
        if i in corrupt:
            assert r["error"] is not None and r["kind"] is None
        else:
            assert r["error"] is None
            assert r["payload_sha256"] is not None
            if r["kind"] == "image":
                assert r["width"] >= 8 and r["height"] >= 8
                assert r["n_frames"] is None
            elif r["kind"] == "audio":
                assert r["sample_rate"] in (8000, 16000, 24000)
            else:
                assert r["n_frames"] >= 2


def test_decode_meta_deterministic(spark, media_df):
    a = decode_media_meta(media_df).orderBy("media_id").collect()
    b = decode_media_meta(media_df.repartition(7)).orderBy("media_id").collect()
    assert a == b


def test_frame_sample_counts(spark, media_df):
    meta = decode_media_meta(media_df).filter(F.col("kind") == "video")
    expected = sum(
        (r["n_frames"] + 1) // 2 for r in meta.collect()
    )  # frames 0,2,4,..
    frames = frame_sample(media_df)  # FRAME_EVERY_K == 2
    assert frames.count() == expected
    r = frames.first()
    assert len(r["frame"]) == r["width"] * r["height"]
    # sampled frame indices are even
    assert frames.filter(F.col("frame_idx") % 2 == 1).count() == 0


def test_media_features_shape_and_norm(spark, media_df):
    payloads = {r["media_id"]: r["payload"] for r in media_df.collect()}
    got = {
        r["media_id"]: r["feature_str"]
        for r in media_features_packed(media_df).collect()
    }
    assert got == {i: format_feature(feature_of(p)) for i, p in payloads.items()}
    ok = [v for v in got.values() if v]
    assert len(ok) == N - len([i for i in range(N) if i % 23 == 7])
    assert all(len(v.split(",")) == FEATURE_DIM for v in ok)
    # the kernel's vectors are unit-norm before '%.6f' packing
    for p in payloads.values():
        vec = feature_of(p)
        if vec is not None:
            assert abs(sum(x * x for x in vec) - 1.0) <= 1e-9


def test_media_dedup_collapses_identical_payloads(spark):
    from pyspark.sql import functions as F

    from ocr_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_dedup,
        synth_media,
    )

    base = spark.createDataFrame(synth_media(30), schema=MEDIA_SCHEMA)
    dup = base.filter(F.col("media_id") < 5).withColumn(
        "media_id", F.col("media_id") + F.lit(1000)
    )
    out = media_dedup(base.unionByName(dup))
    rows = out.collect()
    assert len(rows) == 30                     # payloads unique in synth
    copies = {r["canonical_media_id"]: r["n_copies"] for r in rows}
    for mid in range(5):
        assert copies[mid] == 2                # planted dup collapsed
    assert sum(1 for r in rows if r["n_copies"] == 1) == 25
    # left-semi composition keeps exactly one copy per asset
    kept = base.unionByName(dup).join(
        out.select(F.col("canonical_media_id").alias("media_id")),
        "media_id",
        "left_semi",
    )
    assert kept.count() == 30


def test_media_dedup_no_payload_shuffle(spark):
    from ocr_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        media_dedup,
        synth_media,
    )

    media = spark.createDataFrame(synth_media(50), schema=MEDIA_SCHEMA)
    df = media_dedup(media)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange[^\n]*", plan):
        assert "payload#" not in m.group(0)
