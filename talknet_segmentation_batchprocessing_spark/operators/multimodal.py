"""Multimodal column operators: image/audio/video as opaque binary
columns with typed metadata (BASELINE.json extension surface).

The Spark-side plumbing — schema, partitioning, Arrow batch shape,
UDF signatures — is real and tested, and since round 3 the cv2/PIL
decode bodies are real too, import-guarded because this image has no
cv2/PIL/PyAV (stub-module tests exercise the bodies, the
sources.media_ingest pattern). ``fake_image_decoder`` remains the
deterministic in-image default.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURES_SCHEMA = "doc_id long, feature array<float>"


def fake_image_decoder(height: int = 16, width: int = 16):
    """Deterministic pixel fake: gray image seeded from content hash."""

    def decode(content: bytes) -> np.ndarray:
        seed = int.from_bytes(hashlib.sha256(content).digest()[:4], "big")
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(height, width), dtype=np.uint8)

    return decode


def jpeg_image_decoder():
    """Real decoder with NO optional dependency: bytes -> grayscale
    uint8 HxW for baseline JFIF JPEG via the pure-numpy codec
    (sources/jpeg.py, round 8). Unlike the cv2/PIL decoders this runs
    on real image bytes in THIS image — the committed MJPEG fixture's
    frames and any single-component baseline JPEG decode through it;
    non-JPEG bytes raise naming the magic."""
    from ..sources.jpeg import decode_gray_jpeg

    def decode(content: bytes) -> np.ndarray:
        if content[:2] != b"\xff\xd8":
            raise ValueError(
                "jpeg_image_decoder takes baseline JPEG bytes (no SOI "
                "marker found); use cv2/PIL decoders for other formats"
            )
        return decode_gray_jpeg(content)

    return decode


def cv2_image_decoder():
    """Real decoder: bytes -> grayscale uint8 HxW via ``cv2.imdecode``
    (the reference reads frames with cv2 throughout, demoTalkNet.py).
    The import is guarded — cv2 is not in this image — and the body is
    exercised in tests through a stub ``cv2`` module, the same pattern
    as sources.media_ingest.pyav_decoder."""
    try:
        import cv2
    except ImportError as e:  # pragma: no cover - env without cv2
        raise NotImplementedError(
            "cv2 is not installed; use pil_image_decoder() or "
            "fake_image_decoder() for plumbing tests"
        ) from e

    def decode(content: bytes) -> np.ndarray:
        buf = np.frombuffer(content, dtype=np.uint8)
        img = cv2.imdecode(buf, cv2.IMREAD_GRAYSCALE)
        if img is None:
            raise ValueError("cv2.imdecode could not parse image bytes")
        return np.asarray(img, dtype=np.uint8)

    return decode


def pil_image_decoder():
    """Real decoder: bytes -> grayscale uint8 HxW via Pillow. Guarded
    like :func:`cv2_image_decoder`; preferred when cv2 is absent."""
    try:
        from PIL import Image
    except ImportError as e:  # pragma: no cover - env without Pillow
        raise NotImplementedError(
            "Pillow is not installed; use fake_image_decoder() for "
            "plumbing tests"
        ) from e

    from io import BytesIO

    def decode(content: bytes) -> np.ndarray:
        with Image.open(BytesIO(content)) as im:
            return np.asarray(im.convert("L"), dtype=np.uint8)

    return decode


def extract_image_features(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    decoder: Callable[[bytes], np.ndarray] | None = None,
) -> DataFrame:
    """Decode -> resize to 8x8 (block-mean, the X4 grayscale+resize
    analog) -> flatten to a 64-float feature vector. Arrow-batched
    ``mapInPandas``; one batch = one vectorized decode loop, no per-row
    Python UDF."""
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(df)
    dec = decoder or fake_image_decoder()
    rh = rw = 8

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for r in pdf.itertuples(index=False):
                img = dec(getattr(r, binary_col))
                h, w = img.shape
                # block-mean resize: exact when shapes divide, else crop
                img = img[: (h // rh) * rh, : (w // rw) * rw]
                blocks = img.reshape(rh, h // rh, rw, w // rw).mean(axis=(1, 3))
                ids.append(getattr(r, id_col))
                feats.append((blocks.flatten() / 255.0).astype(np.float32))
            yield pd.DataFrame({"doc_id": ids, "feature": feats})

    return df.select(id_col, binary_col).mapInPandas(fn, FEATURES_SCHEMA)


def sample_video_frames(frames: DataFrame, every_n: int = 25) -> DataFrame:
    """Frame sampling on ``frame_idx`` (1 fps from a 25 fps stream when
    every_n=25) — pure relational modulo filter, pushed to the scan."""
    return frames.filter((F.col("frame_idx") % every_n) == 0)
