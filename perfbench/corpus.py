"""Seeded MJPEG-in-AVI + 16 kHz PCM corpus for the ASD pipeline.

Every video is a static 64x96 grayscale scene (identical frames, so
the detector's boxes repeat and tracks run the whole clip, as in
``tests/test_mjpeg_to_segments_e2e.py``) encoded with the in-repo
baseline JPEG codec, plus a PCM track of tone bursts that switch on
and off. The seed sets the pixels and the audio; the frame size stays
non-square on purpose.
"""

from __future__ import annotations

import os

import numpy as np

HEIGHT, WIDTH = 64, 96
FPS = 25.0
SAMPLE_RATE = 16000


def video_arrays(rng: np.random.Generator, n_frames: int):
    """One video: (list of identical uint8 frames, int16 PCM samples)."""
    px = rng.integers(0, 256, size=(HEIGHT, WIDTH), dtype=np.uint8)
    n = int(SAMPLE_RATE * n_frames / FPS)
    t = np.arange(n) / SAMPLE_RATE
    tone = np.sin(2 * np.pi * rng.uniform(150.0, 600.0) * t)
    # on/off bursts of 1-4 frames, like speech turns
    per_frame = int(SAMPLE_RATE / FPS)
    gates = np.repeat(rng.random(n_frames) < 0.6, per_frame)[:n]
    noise = rng.normal(scale=0.05, size=n)
    samples = (12000 * (tone * gates + noise)).clip(-32768, 32767).astype(np.int16)
    return [px] * n_frames, samples


def write_corpus(out_dir: str, seed: int, n_videos: int, n_frames: int) -> list[str]:
    """Write ``n_videos`` AVI files into ``out_dir``; returns their paths."""
    from talknet_segmentation_batchprocessing_spark.sources.riff import write_avi

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths = []
    for v in range(n_videos):
        frames, samples = video_arrays(rng, n_frames)
        path = os.path.join(out_dir, f"clip{v:03d}.avi")
        with open(path, "wb") as f:
            f.write(
                write_avi(frames, fps=FPS, samples=samples, sr=SAMPLE_RATE, codec="mjpeg")
            )
        paths.append(path)
    return paths
