"""Perceptual image dedup (functions/phash.py + queries/image_dedup.py):
the DCT-pHash kernel on REAL JPEG bytes from the committed MJPEG
fixture, the pigeonhole recall guarantee of the 4x16-bit band join,
and the full pixels -> hash -> band-candidates -> Hamming verify ->
CC pipeline end to end with no optional wheels."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark.functions.phash import (
    image_phash_bands,
    phash64_bands,
)
from talknet_segmentation_batchprocessing_spark.queries.image_dedup import (
    PHASH_TAU,
    hamming_cluster_bands,
    text_surrogate_phash_bands,
)
from talknet_segmentation_batchprocessing_spark.registry import load
from talknet_segmentation_batchprocessing_spark.sources.jpeg import (
    decode_gray_jpeg,
    encode_gray_jpeg,
)

from .conftest import SF_SMOKE

FIXTURE = Path(__file__).parent / "golden" / "mjpeg_2frame_8k.avi"


def hamming64_bands(a: tuple[int, ...], b: tuple[int, ...]) -> int:
    """Exact Hamming distance between two banded 64-bit hashes."""
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


def _rng_img(seed: int, h: int = 48, w: int = 64) -> np.ndarray:
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w), dtype=np.uint8
    )


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------


def test_phash_deterministic_and_band_range():
    img = _rng_img(7)
    a = phash64_bands(img)
    assert a == phash64_bands(img.copy())
    assert all(0 <= b < 65536 for b in a)
    assert hamming64_bands(a, a) == 0


def test_phash_survives_jpeg_reencoding():
    """The property pHash exists for: a lossy re-encode of the same
    picture hashes NEAR the original (<= tau), while a different
    picture is far (random 64-bit hashes differ by ~32)."""
    img = _rng_img(11, 64, 64)
    # smooth it so JPEG at q=85 is a faithful re-encode (pHash is a
    # low-frequency summary; pure noise is adversarial for any codec)
    k = np.ones((8, 8)) / 64.0
    sm = np.zeros_like(img, dtype=np.float64)
    for dy in range(8):
        for dx in range(8):
            sm += np.roll(np.roll(img, dy, 0), dx, 1) * k[dy, dx]
    img = sm.astype(np.uint8)
    a = phash64_bands(img)
    b = phash64_bands(decode_gray_jpeg(encode_gray_jpeg(img, quality=85)))
    assert hamming64_bands(a, b) <= PHASH_TAU
    other = phash64_bands(_rng_img(12, 64, 64))
    assert hamming64_bands(a, other) > 10


def test_phash_resize_invariance():
    """The 32x32 box-resize front end makes the hash robust to
    resolution: a 2x nearest-neighbor upscale hashes identically."""
    img = _rng_img(23, 32, 32)
    up = np.kron(img, np.ones((2, 2), dtype=np.uint8))
    assert phash64_bands(img) == phash64_bands(up)


def test_phash_arbitrary_sizes():
    for h, w in ((8, 8), (17, 31), (32, 32), (100, 7), (31, 33)):
        bands = phash64_bands(_rng_img(h * 100 + w, h, w))
        assert all(0 <= b < 65536 for b in bands)


# ---------------------------------------------------------------------------
# band-join recall guarantee
# ---------------------------------------------------------------------------


def test_band_join_equals_all_pairs(spark):
    """Pigeonhole pin: at tau < 4 the 4-band candidate join finds
    EVERY pair within Hamming tau, so clustering via band candidates
    equals clustering via brute-force all-pairs — on the real corpus
    surrogate hashes, where the clusters are non-trivial."""
    docs = load(spark, SF_SMOKE, "documents")
    hashes = text_surrogate_phash_bands(docs)
    got = {
        (r["doc_id"], r["component"])
        for r in hamming_cluster_bands(
            docs.select("doc_id"), hashes, PHASH_TAU
        ).collect()
    }

    rows = hashes.collect()
    ids = [r["doc_id"] for r in rows]
    bands = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"]) for r in rows}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if hamming64_bands(bands[a], bands[b]) <= PHASH_TAU:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {(i, find(i)) for i in ids}
    assert got == want
    # non-vacuous: the corpus's truncation near-dups actually cluster
    assert sum(1 for d, c in want if d != c) > 0


def test_tau_beyond_band_count_is_refused(spark):
    docs = load(spark, SF_SMOKE, "documents")
    hashes = text_surrogate_phash_bands(docs)
    with pytest.raises(AssertionError, match="pigeonhole"):
        hamming_cluster_bands(docs.select("doc_id"), hashes, tau=4)


# ---------------------------------------------------------------------------
# real bytes end to end
# ---------------------------------------------------------------------------


def test_real_jpeg_bytes_cluster_e2e(spark):
    """The committed MJPEG fixture's real JPEG frames through the REAL
    kernel and the SAME relational tail the oracle-checked query uses:
    each frame and its quality-77 re-encode cluster together; the two
    distinct frames (and two unrelated noise images) stay apart."""
    import struct

    from talknet_segmentation_batchprocessing_spark.operators.multimodal import (
        jpeg_image_decoder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.riff import (
        _iter_chunks,
    )

    buf = FIXTURE.read_bytes()
    end = 8 + struct.unpack_from("<I", buf, 4)[0]
    jpegs: list[bytes] = []

    def walk(off: int, stop: int) -> None:
        for c, o, s in _iter_chunks(buf, off, stop):
            if c == b"LIST":
                walk(o + 4, o + s)
            elif c == b"00dc":
                jpegs.append(buf[o : o + s])

    walk(12, end - 12)
    assert len(jpegs) == 2

    imgs = [decode_gray_jpeg(j) for j in jpegs]
    rows = [
        (0, jpegs[0]),
        (1, encode_gray_jpeg(imgs[0], quality=77)),  # near-dup of 0
        (2, jpegs[1]),
        (3, encode_gray_jpeg(imgs[1], quality=77)),  # near-dup of 2
        (4, encode_gray_jpeg(_rng_img(41, 32, 40))),
        (5, encode_gray_jpeg(_rng_img(42, 32, 40))),
    ]
    df = spark.createDataFrame(rows, "img_id long, content binary")
    hashes = image_phash_bands(
        df, "content", "img_id", decoder=jpeg_image_decoder()
    )
    out = hamming_cluster_bands(
        df.select(F.col("img_id").alias("doc_id")), hashes, PHASH_TAU
    )
    comp = {r["doc_id"]: r["component"] for r in out.collect()}
    assert comp[0] == comp[1], "re-encode of frame 0 must cluster with it"
    assert comp[2] == comp[3], "re-encode of frame 1 must cluster with it"
    assert comp[0] != comp[2], "distinct frames must not merge"
    assert len({comp[4], comp[5], comp[0], comp[2]}) == 4
