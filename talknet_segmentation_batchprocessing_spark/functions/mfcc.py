"""X5: MFCC feature extraction, numpy-only.

The reference computes 13-cepstra MFCC with 25 ms windows and 10 ms
steps via ``python_speech_features`` (demoTalkNet.py:238,
dataLoader.py:40-41) — 100 feature rows per second of 16 kHz audio.
That library is pure public DSP math (Davis & Mermelstein 1980:
pre-emphasis -> framing -> Hamming-less periodogram -> mel filterbank
-> log -> DCT-II -> liftering), re-derived here on numpy so the
feature shell is REAL in this image (no external deps);
``operators/featurize.track_mfcc_features`` runs it per track in a
cogrouped ``applyInPandas``.

Matches python_speech_features defaults: preemph 0.97, nfft 512,
nfilt 26, numcep 13, ceplifter 22, appendEnergy True, rounded
half-up frame count.
"""

from __future__ import annotations

import math

import numpy as np


def _mel(hz: np.ndarray | float) -> np.ndarray | float:
    return 2595.0 * np.log10(1.0 + np.asarray(hz) / 700.0)


def _mel_inv(mel: np.ndarray | float) -> np.ndarray | float:
    return 700.0 * (10.0 ** (np.asarray(mel) / 2595.0) - 1.0)


def _filterbank(nfilt: int, nfft: int, sr: int) -> np.ndarray:
    low, high = _mel(0.0), _mel(sr / 2.0)
    pts = _mel_inv(np.linspace(low, high, nfilt + 2))
    bins = np.floor((nfft + 1) * pts / sr).astype(int)
    fb = np.zeros((nfilt, nfft // 2 + 1))
    for m in range(1, nfilt + 1):
        l, c, r = bins[m - 1], bins[m], bins[m + 1]
        for k in range(l, c):
            fb[m - 1, k] = (k - l) / max(c - l, 1)
        for k in range(c, r):
            fb[m - 1, k] = (r - k) / max(r - c, 1)
    return fb


def mfcc(
    signal: np.ndarray,
    sr: int = 16000,
    win_s: float = 0.025,
    step_s: float = 0.010,
    numcep: int = 13,
    nfilt: int = 26,
    nfft: int = 512,
    preemph: float = 0.97,
    ceplifter: int = 22,
) -> np.ndarray:
    """[T, numcep] float32 MFCC of an int16/float 1-D signal."""
    x = np.asarray(signal, dtype=np.float64)
    if len(x) == 0:
        return np.zeros((0, numcep), dtype=np.float32)
    x = np.append(x[0], x[1:] - preemph * x[:-1])
    frame_len = int(round(win_s * sr))
    step = int(round(step_s * sr))
    n_frames = 1 + int(math.ceil((len(x) - frame_len) / step)) if len(x) > frame_len else 1
    pad = (n_frames - 1) * step + frame_len - len(x)
    x = np.concatenate([x, np.zeros(max(pad, 0))])
    idx = np.arange(frame_len)[None, :] + step * np.arange(n_frames)[:, None]
    frames = x[idx]
    mag = np.absolute(np.fft.rfft(frames, nfft, axis=1))
    power = (1.0 / nfft) * mag**2
    energy = np.where(power.sum(axis=1) == 0, np.finfo(float).eps, power.sum(axis=1))
    fb = _filterbank(nfilt, nfft, sr)
    feat = power @ fb.T
    feat = np.log(np.where(feat == 0, np.finfo(float).eps, feat))
    # orthonormal DCT-II over the filter axis, keep numcep coefficients
    n = nfilt
    basis = np.cos(np.pi / n * (np.arange(n)[None, :] + 0.5) * np.arange(numcep)[:, None])
    scale = np.sqrt(2.0 / n)
    cep = feat @ basis.T * scale
    cep[:, 0] *= 1.0 / np.sqrt(2.0)
    if ceplifter > 0:
        lift = 1 + (ceplifter / 2.0) * np.sin(np.pi * np.arange(numcep) / ceplifter)
        cep = cep * lift
    cep[:, 0] = np.log(energy)  # appendEnergy=True replaces c0
    return cep.astype(np.float32)
