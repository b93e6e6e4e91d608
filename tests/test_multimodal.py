"""Multimodal plumbing: schema, Arrow batch shape, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nilinker_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_media_features,
    frame_sample,
    make_media_fixture,
    resize_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return make_media_fixture(spark, n=30).cache()


def test_features_schema_and_shape(spark, media):
    out = extract_media_features(media)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,n_bytes:bigint,features:array<float>>"
    )
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        v = np.array(r["features"])
        assert abs(float((v * v).sum()) - 1.0) < 1e-5  # unit vectors


def test_features_deterministic_across_partitionings(spark, media):
    a = extract_media_features(media.repartition(1)).collect()
    b = extract_media_features(media.repartition(8)).collect()
    da = {r["media_id"]: r["features"] for r in a}
    db = {r["media_id"]: r["features"] for r in b}
    assert da == db


def test_frame_sampling(spark, media):
    frames = frame_sample(media, frame_bytes=64, every_n=4)
    pdf = frames.toPandas()
    n_videos = media.filter(F.col("kind") == "video").count()
    assert set(pdf["media_id"].unique()) == {
        r["media_id"] for r in media.filter(F.col("kind") == "video").collect()
    }
    assert (pdf["frame_idx"] % 4 == 0).all()
    assert pdf.groupby("media_id").size().min() >= 1
    assert n_videos > 0


def test_resize_media_stride_and_meta(spark, media):
    out = resize_media(media, target_w=4, target_h=4)
    rows = {r["media_id"]: r for r in out.collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert rows.keys() == src.keys()
    for mid, r in rows.items():
        s = src[mid]
        stride = max(1, (s["meta"]["width"] * s["meta"]["height"]) // 16)
        assert bytes(r["payload"]) == bytes(s["payload"])[::stride]
        assert r["meta"]["width"] == 4 and r["meta"]["height"] == 4
        assert r["meta"]["mime"] == s["meta"]["mime"]
        assert r["meta"]["duration_ms"] == s["meta"]["duration_ms"]
        assert r["kind"] == s["kind"]
