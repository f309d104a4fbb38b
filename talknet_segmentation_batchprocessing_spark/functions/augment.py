"""X4/X7/X8: training-loader signal prep, numpy-only.

Reference: dataLoader.py:15-28 (SNR noise mixing), 19-23,42-46
(wrap-padding), demoTalkNet.py:244-246 (grayscale 224 resize + 112
center crop). All pure array math — no cv2/scipy needed; interpolating
resize is approximated by block-mean / nearest sampling (the UDF slot
accepts a cv2-backed callable in production).
"""

from __future__ import annotations

import numpy as np


def wrap_pad(x: np.ndarray, target_len: int) -> np.ndarray:
    """X7: tile-and-truncate to ``target_len`` (dataLoader.py:19-23:
    short audio is wrapped until it covers the clip)."""
    if len(x) == 0:
        return np.zeros(target_len, dtype=x.dtype)
    reps = int(np.ceil(target_len / len(x)))
    return np.tile(x, reps)[:target_len]


def energy_db(x: np.ndarray, eps: float = 1e-4) -> float:
    """A9: 10*log10(mean(x^2) + eps) (dataLoader.py:24-26)."""
    x = np.asarray(x, dtype=np.float64)
    return float(10.0 * np.log10(np.mean(x**2) + eps))


def snr_mix(clean: np.ndarray, noise: np.ndarray, snr_db: float) -> np.ndarray:
    """X8: mix noise into clean at the requested SNR
    (dataLoader.py:15-28): wrap-pad noise to the clean length, scale by
    sqrt(10^((cleanDB - noiseDB - snr)/10)), add."""
    clean = np.asarray(clean, dtype=np.float64)
    noise = wrap_pad(np.asarray(noise, dtype=np.float64), len(clean))
    gain = np.sqrt(10.0 ** ((energy_db(clean) - energy_db(noise) - snr_db) / 10.0))
    return clean + gain * noise


def to_grayscale(rgb: np.ndarray) -> np.ndarray:
    """X4: ITU-R 601 luma (cv2.cvtColor BGR2GRAY coefficients)."""
    if rgb.ndim == 2:
        return rgb.astype(np.float64)
    b, g, r = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    return 0.114 * b + 0.587 * g + 0.299 * r


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """X4 resize slot: nearest-neighbor sampling (cv2.resize stand-in;
    deterministic, dependency-free)."""
    h, w = img.shape[:2]
    rows = (np.arange(out_h) * (h / out_h)).astype(int).clip(0, h - 1)
    cols = (np.arange(out_w) * (w / out_w)).astype(int).clip(0, w - 1)
    return img[rows][:, cols]


def center_crop(img: np.ndarray, size: int) -> np.ndarray:
    """X4: center ``size x size`` crop (dataLoader.py:66-67,
    demoTalkNet.py:244-246: resize 224 then crop 112)."""
    h, w = img.shape[:2]
    r0 = max((h - size) // 2, 0)
    c0 = max((w - size) // 2, 0)
    return img[r0 : r0 + size, c0 : c0 + size]


def face_pipeline(img: np.ndarray, resize_to: int = 224, crop_to: int = 112) -> np.ndarray:
    """X4 end-to-end: grayscale -> resize -> center-crop, the visual
    frontend's input prep (demoTalkNet.py:244-246)."""
    return center_crop(resize_nearest(to_grayscale(img), resize_to, resize_to), crop_to)
