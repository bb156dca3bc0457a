"""Multimodal binary-column plumbing tests (stubbed decode)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_binary_payload,
    decode_real,
    extract_features,
)
from time_series_prediction_spark.sources.io import read_table


def test_binary_payload_schema_and_metadata(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    bin_df = attach_binary_payload(docs)
    assert dict(bin_df.dtypes) == {
        "doc_id": "bigint",
        "modality": "string",
        "payload": "binary",
        "n_bytes": "bigint",
        "content_md5": "string",
    }
    r = bin_df.join(docs, "doc_id").select("n_bytes", F.length("text").alias("n")).first()
    assert r["n_bytes"] == r["n"]  # ascii fixture text


def test_extract_features_deterministic_and_shaped(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(40)
    bin_df = attach_binary_payload(docs)
    feats = extract_features(bin_df).orderBy("doc_id")
    rows = feats.collect()
    assert len(rows) == 40
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        v = np.asarray(r["features"], dtype=float)
        assert abs(v.sum() - 1.0) < 1e-6  # normalized histogram
    # deterministic across runs
    rows2 = extract_features(bin_df).orderBy("doc_id").collect()
    assert [r["features"] for r in rows] == [r["features"] for r in rows2]


def test_extract_features_small_batches_match(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(30)
    bin_df = attach_binary_payload(docs)
    a = extract_features(bin_df, batch_size=7).orderBy("doc_id").collect()
    b = extract_features(bin_df, batch_size=1000).orderBy("doc_id").collect()
    assert [r["features"] for r in a] == [r["features"] for r in b]


def test_real_decoder_is_clearly_stubbed():
    from time_series_prediction_spark.operators.multimodal import _cv2, _pil

    if _pil() is None:
        with pytest.raises(NotImplementedError, match="media libraries"):
            decode_real(b"\x00", "image")
    if _cv2() is None:
        with pytest.raises(NotImplementedError, match="media libraries"):
            decode_real(b"\x00", "video")


def test_real_image_decode_when_pil_present():
    """Conditional real path: only runs where PIL exists (not this
    container) — generates a tiny PNG and checks the 16-dim contract."""
    from time_series_prediction_spark.operators.multimodal import _pil

    Image = _pil()
    if Image is None:
        pytest.skip("PIL not installed")
    import io

    buf = io.BytesIO()
    Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    feats = decode_real(buf.getvalue(), "image")
    assert len(feats) == FEATURE_DIM
    assert all(abs(v - 128 / 255.0) < 1e-6 for v in feats)


def test_real_video_decode_when_cv2_present():
    """Conditional real path: only runs where OpenCV exists (not this
    container) — writes a 2-frame clip and checks the 16-dim contract."""
    from time_series_prediction_spark.operators.multimodal import _cv2

    cv2 = _cv2()
    if cv2 is None:
        pytest.skip("cv2 not installed")
    import os
    import tempfile

    import numpy as _np

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "clip.mp4")
        w = cv2.VideoWriter(
            path, cv2.VideoWriter_fourcc(*"mp4v"), 5, (16, 16)
        )
        for _ in range(2):
            w.write(_np.full((16, 16, 3), 200, dtype=_np.uint8))
        w.release()
        with open(path, "rb") as f:
            payload = f.read()
    feats = decode_real(payload, "video")
    assert len(feats) == FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in feats)
