"""Perceptual image hashing: 64-bit DCT pHash over grayscale pixels,
carried as 4x16-bit bands for Hamming-ball LSH.

The LAION/DataComp-style preprocessing step a multimodal training
corpus needs and the dedup family previously lacked: text near-dup is
covered six ways (shingles, n-grams, lines, substrings, SimHash,
embeddings), but a re-encoded / resized / slightly-cropped IMAGE only
reveals itself perceptually. pHash is the standard answer: box-resize
to 32x32, 2-D DCT-II, keep the 8x8 low-frequency block, threshold at
its median -> 64 bits whose Hamming distance survives re-encoding.

Reference anchor: the frame/image surface this runs on is the
reference's frame pipeline (demoTalkNet.py:244-246 frame extraction,
504-508 crop/grayscale) — the dedup itself has no reference
counterpart; it is part of the repo's LLM-data-pipeline extension
surface.

Band layout: the 64 bits ship as four BIGINT columns ``b0..b3`` of 16
bits each rather than one signed 64-bit value — bit 63 would overflow
the sign, and the bands are exactly what the multi-index-hashing
candidate join keys on (functions in queries/image_dedup.py). By the
pigeonhole principle, two hashes within Hamming distance tau share at
least one of m bands EXACTLY whenever tau < m — so the 4-band
equi-join has GUARANTEED recall for tau <= 3, the same shape as
MinHash-LSH banding but with a proof instead of a probability.

Everything here is pure integer/float numpy — deterministic across
hosts, no optional wheels. The Spark shell is an Arrow-batched
``mapInPandas`` (one vectorized loop per batch, never a per-row UDF),
the same shell shape as operators/multimodal.extract_image_features.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

PHASH_SCHEMA = "doc_id long, b0 long, b1 long, b2 long, b3 long"

_DCT32: np.ndarray | None = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (type-II, 'ortho' norm): the
    32x32 transform is two matrix multiplies, no scipy needed."""
    global _DCT32
    if _DCT32 is not None and _DCT32.shape[0] == n:
        return _DCT32
    k = np.arange(n)
    m = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    m *= np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    if n == 32:
        _DCT32 = m
    return m


def _box_resize(img: np.ndarray, out_h: int = 32, out_w: int = 32) -> np.ndarray:
    """Box (interval-mean) resize to (out_h, out_w) for ANY input
    size: row/col interval i covers [floor(i*n/out), floor((i+1)*n/out))
    clamped to at least one sample, so upscaling degrades to
    nearest-neighbor and downscaling is a true block mean — the same
    integer-grid chunking the relational text-surrogate hash uses."""
    img = np.asarray(img, dtype=np.float64)
    h, w = img.shape

    def _axis_mean(a: np.ndarray, n_in: int, n_out: int, axis: int) -> np.ndarray:
        lo = (np.arange(n_out) * n_in) // n_out
        hi = ((np.arange(n_out) + 1) * n_in) // n_out
        hi = np.maximum(hi, lo + 1)
        hi = np.minimum(hi, n_in)
        lo = np.minimum(lo, n_in - 1)
        # cumulative sum -> interval means without a python inner loop
        c = np.cumsum(np.moveaxis(a, axis, 0), axis=0)
        c = np.concatenate([np.zeros_like(c[:1]), c], axis=0)
        out = (c[hi] - c[lo]) / (hi - lo).reshape(-1, *([1] * (a.ndim - 1)))
        return np.moveaxis(out, 0, axis)

    img = _axis_mean(img, h, out_h, 0)
    img = _axis_mean(img, w, out_w, 1)
    return img


def phash64_bands(gray: np.ndarray) -> tuple[int, int, int, int]:
    """Grayscale image (any HxW, uint8 or float) -> the 64-bit DCT
    pHash as four 16-bit band values (b0 = bits 0..15, ... b3 = bits
    48..63; within a band, bit j has weight 2**j).

    Classic construction: box-resize to 32x32, 2-D DCT-II, keep the
    top-left 8x8 low-frequency block, bit i = (coef_i > median of the
    64 coefficients). Deterministic pure numpy."""
    small = _box_resize(gray, 32, 32)
    m = _dct_matrix(32)
    freq = (m @ small @ m.T)[:8, :8].ravel()
    med = float(np.median(freq))
    bits = (freq > med).astype(np.int64)
    bands = []
    for k in range(4):
        chunk = bits[16 * k : 16 * (k + 1)]
        bands.append(int((chunk << np.arange(16)).sum()))
    return bands[0], bands[1], bands[2], bands[3]


def image_phash_bands(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    decoder: Callable[[bytes], np.ndarray] | None = None,
) -> DataFrame:
    """Binary image column -> (doc_id, b0..b3) banded pHash frame, the
    input of queries.image_dedup.hamming_cluster_bands. Arrow-batched
    ``mapInPandas``: one decode+hash loop per batch, no per-row UDF.
    ``decoder`` defaults to the deterministic fake
    (operators/multimodal.fake_image_decoder); pass
    ``jpeg_image_decoder()`` for real JPEG bytes (pure numpy, no
    optional wheel — tests drive the committed MJPEG fixture through
    it)."""
    from ..deploy import ensure_worker_imports
    from ..operators.multimodal import fake_image_decoder

    ensure_worker_imports(df)
    dec = decoder or fake_image_decoder()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                bands = phash64_bands(dec(getattr(r, binary_col)))
                rows.append((getattr(r, id_col), *bands))
            yield pd.DataFrame(
                rows, columns=["doc_id", "b0", "b1", "b2", "b3"]
            )

    return df.select(id_col, binary_col).mapInPandas(fn, PHASH_SCHEMA)
