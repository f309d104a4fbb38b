"""Track featurization: the reference's crop_video stage
(demoTalkNet.py:178-223) re-expressed as DataFrame operators — per
(track, frame) face crops plus per-track MFCC, the inputs
``score_tracks`` feeds to a ``needs_features`` scorer (the real numpy
TalkNet forward).

Two shapes:

- **faces**: tracks ⋈ frames equi-join on (video_id, frame_idx), then
  an Arrow-batched ``mapInPandas`` running the grayscale→resize→
  center-crop pipeline (X4, demoTalkNet.py:244-246) per image. The
  join is the co-partitioning story: both sides hash on video_id, no
  image bytes ever cross the driver.
- **mfcc**: cogrouped ``applyInPandas`` over (tracks, audio) per
  video — the audio chunks concatenate to the video's sample stream,
  each track slices its [start/fps, (end+1)/fps) span (A7-style
  extent), MFCCs the slice (X5, 100 steps/s), and emits 4 MFCC rows
  per video frame flattened to a 52-float column (the 100 Hz vs
  25 fps ratio, demoTalkNet.py:252-254 X6 alignment).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.augment import face_pipeline
from ..functions.mfcc import mfcc as mfcc_of

FEATURES_SCHEMA = (
    "video_id string, track_id int, frame_idx int, mfcc array<double>, "
    "face array<double>"
)


def _decode_gray(img_bytes: bytes) -> np.ndarray:
    """Read a raw uint8 grayscale payload as a square image of side
    ⌊√n⌋ (the fake decoder's format)."""
    a = np.frombuffer(img_bytes, dtype=np.uint8)
    side = int(np.sqrt(a.size))
    return a[: side * side].reshape(side, side)


def track_faces_features(
    tracks: DataFrame,
    frames: DataFrame,
    crop_to: int = 112,
) -> DataFrame:
    """(video_id, track_id, frame_idx) ⋈ frames -> per-frame face crop
    rows (flattened crop_to² doubles)."""
    joined = tracks.select("video_id", "track_id", "frame_idx").join(
        frames.select("video_id", "frame_idx", "image"), ["video_id", "frame_idx"]
    )

    def fn(batches):
        for pdf in batches:
            faces = [
                face_pipeline(_decode_gray(img), crop_to=crop_to).astype(np.float64).ravel()
                for img in pdf["image"]
            ]
            yield pd.DataFrame(
                {
                    "video_id": pdf["video_id"],
                    "track_id": pdf["track_id"].astype("int32"),
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "face": faces,
                }
            )

    return joined.mapInPandas(
        fn, "video_id string, track_id int, frame_idx int, face array<double>"
    )


def track_mfcc_features(
    tracks: DataFrame,
    audio: DataFrame,
    fps: float = 25.0,
    steps_per_frame: int = 4,
) -> DataFrame:
    """Per-track MFCC via cogrouped applyInPandas: audio sliced to each
    track's frame extent, 13 cepstra at 100 steps/s, 4 steps per frame
    (wrap-padded at the tail like X7 when the slice runs short)."""

    def fn(_key, tdf: pd.DataFrame, adf: pd.DataFrame):
        if tdf.empty or adf.empty:
            return pd.DataFrame(
                columns=["video_id", "track_id", "frame_idx", "mfcc"]
            )
        a = adf.sort_values("chunk_idx")
        sr = int(a["sr"].iloc[0])
        samples = np.concatenate([np.asarray(s, dtype=np.int16) for s in a["samples"]])
        out_rows = []
        video_id = tdf["video_id"].iloc[0]
        for track_id, g in tdf.groupby("track_id"):
            fr = np.sort(g["frame_idx"].unique())
            lo, hi = int(fr[0]), int(fr[-1])
            s0 = int(lo / fps * sr)
            s1 = min(int((hi + 1) / fps * sr), len(samples))
            feat = mfcc_of(samples[s0:s1], sr)  # [T, 13] at 100 steps/s
            need = (hi - lo + 1) * steps_per_frame
            if len(feat) < need:  # X7 wrap-pad short tails
                reps = -(-need // max(len(feat), 1))
                feat = np.tile(feat, (reps, 1))[:need]
            for f in fr:
                r = (int(f) - lo) * steps_per_frame
                out_rows.append(
                    {
                        "video_id": video_id,
                        "track_id": int(track_id),
                        "frame_idx": int(f),
                        "mfcc": feat[r : r + steps_per_frame].ravel().tolist(),
                    }
                )
        return pd.DataFrame(out_rows)

    return (
        tracks.select("video_id", "track_id", "frame_idx")
        .groupBy("video_id")
        .cogroup(audio.groupBy("video_id"))
        .applyInPandas(
            fn,
            "video_id string, track_id int, frame_idx int, mfcc array<double>",
        )
    )


def featurize_tracks(
    tracks: DataFrame,
    frames: DataFrame,
    audio: DataFrame,
) -> DataFrame:
    """Full feature assembly for ``score_tracks(needs_features=...)``:
    join the face-crop and MFCC arms on (video_id, track_id,
    frame_idx)."""
    faces = track_faces_features(tracks, frames)
    mf = track_mfcc_features(tracks, audio)
    return mf.join(faces, ["video_id", "track_id", "frame_idx"]).select(
        "video_id", "track_id", "frame_idx", "mfcc", "face"
    )
