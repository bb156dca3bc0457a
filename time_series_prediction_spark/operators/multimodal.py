"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference scope (SURVEY §7.1.8): a 100 TB multimodal corpus
stores image/audio/video as ``binary`` columns with typed metadata
(modality, byte size, content hash) beside them. The Spark-side
pipeline — schema, partition-sized Arrow batches, ``mapInPandas``
feature extraction — is real and tested; the actual media DECODE step
is stubbed (image/audio libraries are not in this container): the
default extractor is a deterministic content-hash feature so tests can
assert exact plumbing behavior, and ``decode_real`` raises
``NotImplementedError`` with the integration contract documented.

Why ``mapInPandas``: decode is Python-library work (PIL/ffmpeg), so it
cannot be a native expression — the iterator form streams
Arrow-batches through one Python worker per partition (no per-row
serialization), keeps memory bounded by the batch size, and preserves
the upstream partitioning. This is the one place (besides model
inference) where Python belongs in the hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "doc_id bigint, modality string, n_bytes bigint, "
    "content_md5 string, features array<float>"
)


def attach_binary_payload(
    df: DataFrame,
    source_col: str = "text",
    id_col: str = "doc_id",
    modality: str = "image",
) -> DataFrame:
    """Synthesize an opaque binary payload column from an existing
    column (UTF-8 encode) + typed metadata — stands in for real media
    bytes so the downstream plumbing is exercised end-to-end."""
    payload = F.encode(F.col(source_col), "UTF-8")
    return df.select(
        F.col(id_col),
        F.lit(modality).alias("modality"),
        payload.alias("payload"),
        F.length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


def _stub_features(payload: bytes) -> list[float]:
    """Deterministic fake feature vector from the payload bytes: a
    16-dim histogram of byte values (normalized). Replaces the real
    decoder so the Spark plumbing is testable without media libs."""
    if payload is None or len(payload) == 0:
        return [0.0] * FEATURE_DIM
    counts = [0] * FEATURE_DIM
    for b in payload:
        counts[b % FEATURE_DIM] += 1
    n = float(len(payload))
    return [c / n for c in counts]


def _pil():  # pragma: no cover - environment-dependent
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _cv2():  # pragma: no cover - environment-dependent
    try:
        import cv2  # noqa: PLC0415

        return cv2
    except ImportError:
        return None


def decode_real(payload: bytes, modality: str):
    """Integration point for real decoders.

    Contract: return a per-item feature vector (list[float] of
    FEATURE_DIM) from the raw bytes. Images use PIL when it is
    importable (decode → grayscale → 4×4 thumbnail → 16 normalized
    pixel intensities); video uses OpenCV when importable (decode via a
    temp file — cv2.VideoCapture has no bytes API — grab the first
    frame, grayscale, 4×4 thumbnail, same 16-dim contract); audio
    would wire soundfile/librosa the same way. When the library is
    absent (this container), raises NotImplementedError — callers keep
    the deterministic stub.
    """
    Image = _pil()
    if modality == "image" and Image is not None:  # pragma: no cover
        import io  # noqa: PLC0415

        img = Image.open(io.BytesIO(payload)).convert("L").resize((4, 4))
        return [px / 255.0 for px in img.getdata()]
    cv2 = _cv2()
    if modality == "video" and cv2 is not None:  # pragma: no cover
        import os  # noqa: PLC0415
        import tempfile  # noqa: PLC0415

        fd, tmp = tempfile.mkstemp(suffix=".mp4")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(payload)
            cap = cv2.VideoCapture(tmp)
            ok, frame = cap.read()
            cap.release()
            if not ok:
                raise ValueError("cv2 could not decode a frame")
            gray = cv2.cvtColor(frame, cv2.COLOR_BGR2GRAY)
            thumb = cv2.resize(gray, (4, 4), interpolation=cv2.INTER_AREA)
            return [float(px) / 255.0 for px in thumb.flatten()]
        finally:
            os.unlink(tmp)
    raise NotImplementedError(
        f"real {modality} decoding requires media libraries not present "
        "in this environment; use the deterministic stub extractor"
    )


def extract_features(
    df: DataFrame,
    batch_size: int = 256,
    use_real_decoder: bool = False,
) -> DataFrame:
    """Feature-extract binary payloads via iterator ``mapInPandas``.

    One Python worker per partition, Arrow batches of ``batch_size``
    rows; output preserves ids + metadata and adds ``features``
    (array<float> of FEATURE_DIM). Partitioning is inherited — at
    100 TB, partition the input by size-balanced file groups first.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[["doc_id", "modality", "n_bytes", "content_md5"]].copy()
            if use_real_decoder:
                out["features"] = [
                    decode_real(p, m)
                    for p, m in zip(pdf["payload"], pdf["modality"])
                ]
            else:
                out["features"] = [_stub_features(p) for p in pdf["payload"]]
            # honor batch_size: emit in bounded chunks
            for start in range(0, len(out), batch_size):
                yield out.iloc[start : start + batch_size]

    return df.mapInPandas(run, schema=FEATURES_SCHEMA)
