"""J6: greedy IoU face-track association — the reference's
order-dependent sequential algorithm (demoTalkNet.py:146-164), which is
NOT a Catalyst join: faces are consumed greedily, so results depend on
scan order exactly like the reference.

Spark mapping: ``applyInPandas`` over ``video_id`` groups, each scene
tracked on its own inside the group — the reference's per-video loop
over scenes (demoTalkNet.py:519-523). Track ids number the video's
tracks in scene order, as the reference's ``allTracks`` index does, so
``(video_id, track_id)`` stays a track key once ``scene_id`` is
dropped. The IoU arithmetic itself is the relational X1 expression;
only the greedy matching loop lives in Python.

Parity notes (deliberately replicated reference behaviors):
- the reference removes a face from the frame list WHILE iterating it,
  which makes Python's iterator skip the face immediately after every
  consumed one (demoTalkNet.py:150-159) — we advance the cursor past
  one slot after a removal to match;
- ``break`` on a too-large frame gap exits only the CURRENT frame's
  face list, not the whole sweep (demoTalkNet.py:160-161);
- a track is kept iff strictly more than ``min_track`` faces
  (demoTalkNet.py:167).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

TRACK_SCHEMA = (
    "video_id string, scene_id int, track_id int, frame_idx int, "
    "x1 double, y1 double, x2 double, y2 double"
)


def greedy_track_scene(
    pdf: pd.DataFrame,
    num_failed_det: int = 10,
    min_track: int = 10,
    iou_thres: float = 0.5,
) -> pd.DataFrame:
    """Reference-parity greedy tracker for ONE scene's detections.

    Input columns: video_id, scene_id, frame_idx, det_id, x1..y2.
    Defaults match the reference knobs (batchProcessVideos.py:18-20).
    """
    video_id = pdf["video_id"].iloc[0]
    scene_id = int(pdf["scene_id"].iloc[0])
    p = pdf.sort_values(["frame_idx", "det_id"])
    # Faces as flat (frame, x1, y1, x2, y2) float tuples, not per-row
    # numpy arrays: the greedy sweep touches every remaining face once
    # per track, and tuple unpack + inline float IoU is ~3x cheaper
    # per touch than ndarray indexing through a Python-level _iou call.
    # Same arithmetic, same order — parity pinned by the kernel
    # property tests against the reference-algorithm port.
    frame_lists: list[list[tuple[int, float, float, float, float]]] = []
    fi = p["frame_idx"].to_numpy()
    xs1 = p["x1"].to_numpy(dtype=float)
    ys1 = p["y1"].to_numpy(dtype=float)
    xs2 = p["x2"].to_numpy(dtype=float)
    ys2 = p["y2"].to_numpy(dtype=float)
    cur_f = None
    for j in range(len(p)):
        f = int(fi[j])
        if f != cur_f:
            frame_lists.append([])
            cur_f = f
        frame_lists[-1].append((f, xs1[j], ys1[j], xs2[j], ys2[j]))
    tracks: list[list[tuple[int, float, float, float, float]]] = []
    while True:
        track: list[tuple[int, float, float, float, float]] = []
        last = None  # (frame, x1, y1, x2, y2) of the track tail
        for faces in frame_lists:
            i = 0
            while i < len(faces):
                face = faces[i]
                if last is None:
                    track.append(face)
                    last = face
                    faces.pop(i)
                elif face[0] - last[0] <= num_failed_det:
                    # inline IoU (demoTalkNet.py:131-144 arithmetic)
                    ax1, ay1, ax2, ay2 = face[1], face[2], face[3], face[4]
                    bx1, by1, bx2, by2 = last[1], last[2], last[3], last[4]
                    xa = ax1 if ax1 > bx1 else bx1
                    ya = ay1 if ay1 > by1 else by1
                    xb = ax2 if ax2 < bx2 else bx2
                    yb = ay2 if ay2 < by2 else by2
                    iw = xb - xa
                    ih = yb - ya
                    inter = (iw if iw > 0.0 else 0.0) * (ih if ih > 0.0 else 0.0)
                    area_a = (ax2 - ax1) * (ay2 - ay1)
                    area_b = (bx2 - bx1) * (by2 - by1)
                    if inter / (area_a + area_b - inter) > iou_thres:
                        track.append(face)
                        last = face
                        faces.pop(i)
                else:
                    break
                # cursor advances one slot whether or not we popped —
                # reproducing the reference's remove-during-iterate skip
                i += 1
        if not track:
            break
        if len(track) > min_track:
            tracks.append(track)
        # drop exhausted frame lists between sweeps — pure speedup:
        # an empty list can never contribute a face, and the sweep
        # order of the remaining lists is unchanged
        frame_lists = [fl for fl in frame_lists if fl]
    rows = [
        (video_id, scene_id, tid, frame, x1, y1, x2, y2)
        for tid, track in enumerate(tracks)
        for frame, x1, y1, x2, y2 in track
    ]
    return pd.DataFrame(
        rows,
        columns=["video_id", "scene_id", "track_id", "frame_idx", "x1", "y1", "x2", "y2"],
    )


def track_faces(
    detections: DataFrame,
    num_failed_det: int = 10,
    min_track: int = 10,
    iou_thres: float = 0.5,
) -> DataFrame:
    """J6 entry point: detections(video_id, scene_id, frame_idx, det_id,
    x1..y2[, conf]) -> tracks, one applyInPandas group per video; track
    ids run over the whole video, numbered by (scene_id, track in
    scene)."""

    from ..deploy import ensure_worker_imports

    ensure_worker_imports(detections)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        tracks = pd.concat(
            [
                greedy_track_scene(scene, num_failed_det, min_track, iou_thres)
                for _, scene in pdf.groupby("scene_id")
            ],
            ignore_index=True,
        )
        tracks["track_id"] = tracks.groupby(["scene_id", "track_id"]).ngroup()
        return tracks

    return detections.groupBy("video_id").applyInPandas(fn, TRACK_SCHEMA)
