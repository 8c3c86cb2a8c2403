"""Multimodal plumbing: binary columns + typed metadata, stubbed decode
behind real mapInPandas stages."""

from __future__ import annotations

import numpy as np
import pytest

from random_cut_forest_by_aws_spark.operators.multimodal import (
    _FEAT_DIM,
    decode_features,
    media_metadata_violations,
    resize_plan,
    sample_frames,
    synth_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, 300, seed=42).localCheckpoint(eager=True)


def test_metadata_violations(media):
    v = media_metadata_violations(media).toPandas()
    assert len(v) > 0  # planted negative heights
    assert all("image_dims_positive" in list(f) for f in v["failed_constraints"])
    pdf = media.toPandas()
    expected = ((pdf["mime"] == "image/png") & (pdf["height"] < 0)).sum()
    assert len(v) == expected


def test_decode_features_shape_and_determinism(media):
    f1 = decode_features(media).toPandas().sort_values("doc_id").reset_index(drop=True)
    f2 = decode_features(media).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(f1) == 300
    assert all(len(v) == _FEAT_DIM for v in f1["features"])
    for a, b in zip(f1["features"], f2["features"]):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))
    # histogram features are normalized
    assert all(abs(sum(v) - 1.0) < 1e-5 for v in f1["features"])


def test_sample_frames(media):
    frames = sample_frames(media, n_frames=4).toPandas()
    n_videos = media.filter("mime = 'video/mp4'").count()
    assert len(frames) == 4 * n_videos
    assert set(frames["frame"]) == {0, 1, 2, 3}


def test_resize_plan(media):
    plan = resize_plan(media, target=224).toPandas()
    ok = plan[plan["height"] > 0]
    assert (ok[["target_width", "target_height"]].min(axis=1) == 224).all()
