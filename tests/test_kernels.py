"""Property tests for the sequential kernels and reference-parity
window quirks (SURVEY.md §5: kernels are property-tested against the
reference algorithm's semantics on random inputs).

The greedy kernels (J6 tracking, W6 NMS) are pure-pandas functions, so
hypothesis can hammer them without Spark jobs; the window-quirk parity
tests run Spark once on seeded data against straight numpy loops
transcribed from the reference's indexing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from talknet_segmentation_batchprocessing_spark.operators.nms import nms_frame
from talknet_segmentation_batchprocessing_spark.operators.tracking import (
    greedy_track_scene,
)

# ---------------------------------------------------------------------------
# W6 NMS: compare against an independent O(n^2) transcription of
# box_utils.py:7-38 (sort conf desc, keep best, drop IoU > overlap)
# ---------------------------------------------------------------------------


def _iou_np(a, b):
    xa, ya = max(a[0], b[0]), max(a[1], b[1])
    xb, yb = min(a[2], b[2]), min(a[3], b[3])
    inter = max(0.0, xb - xa) * max(0.0, yb - ya)
    ua = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
    return inter / ua


def _nms_reference(rows, overlap):
    rows = sorted(rows, key=lambda r: (-r["conf"], r["det_id"]))
    kept = []
    while rows:
        best = rows.pop(0)
        kept.append(best)
        bb = (best["x1"], best["y1"], best["x2"], best["y2"])
        rows = [
            r for r in rows if _iou_np(bb, (r["x1"], r["y1"], r["x2"], r["y2"])) <= overlap
        ]
    return sorted(k["det_id"] for k in kept)


@st.composite
def frame_boxes(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    rows = []
    for i in range(n):
        x1 = draw(st.floats(0, 80, allow_nan=False))
        y1 = draw(st.floats(0, 80, allow_nan=False))
        w = draw(st.floats(1, 40, allow_nan=False))
        h = draw(st.floats(1, 40, allow_nan=False))
        conf = draw(st.floats(0.01, 1.0, allow_nan=False))
        rows.append(
            dict(
                video_id="v", frame_idx=0, det_id=i,
                x1=x1, y1=y1, x2=x1 + w, y2=y1 + h, conf=conf,
            )
        )
    return rows


@given(frame_boxes(), st.sampled_from([0.1, 0.3, 0.5]))
@settings(max_examples=200, deadline=None)
def test_nms_matches_reference_algorithm(rows, overlap):
    got = nms_frame(pd.DataFrame(rows, columns=[
        "video_id", "frame_idx", "det_id", "x1", "y1", "x2", "y2", "conf"
    ]), overlap=overlap)
    assert sorted(got.det_id.tolist()) == _nms_reference(rows, overlap)


# ---------------------------------------------------------------------------
# J6 greedy tracking invariants (demoTalkNet.py:146-167)
# ---------------------------------------------------------------------------


@st.composite
def scene_detections(draw):
    n_actors = draw(st.integers(1, 3))
    n_frames = draw(st.integers(5, 40))
    rows = []
    for a in range(n_actors):
        bx = draw(st.floats(20, 150, allow_nan=False))
        by = draw(st.floats(20, 150, allow_nan=False))
        drop = draw(st.sets(st.integers(0, n_frames - 1), max_size=n_frames // 2))
        for f in range(n_frames):
            if f in drop:
                continue
            cx = bx + 0.5 * f  # slow drift, high consecutive IoU
            cy = by + 0.3 * f
            rows.append(
                ("v", 0, f, a, cx - 15, cy - 15, cx + 15, cy + 15)
            )
    return pd.DataFrame(
        rows,
        columns=["video_id", "scene_id", "frame_idx", "det_id", "x1", "y1", "x2", "y2"],
    )


@given(scene_detections(), st.integers(2, 10))
@settings(max_examples=100, deadline=None)
def test_tracking_invariants(dets, min_track):
    out = greedy_track_scene(dets, num_failed_det=10, min_track=min_track, iou_thres=0.5)
    if out.empty:
        return
    for tid, grp in out.groupby("track_id"):
        grp = grp.sort_values(["frame_idx", "x1"], kind="mergesort")
        frames = grp.frame_idx.to_numpy()
        # strictly more than min_track faces (demoTalkNet.py:167 len > minTrack)
        assert len(frames) > min_track
        # frames non-decreasing with gaps bounded by num_failed_det.
        # NOT strictly increasing: when 3+ overlapping faces share a
        # frame, the reference's remove-during-iterate skip only skips
        # one of them, so a track can legally absorb two same-frame
        # faces (demoTalkNet.py:150-159) — replicated by the kernel.
        assert (np.diff(frames) >= 0).all()
        assert (np.diff(frames) <= 10).all()
    # every output face is a real input detection, consumed at most once
    key_cols = ["frame_idx", "x1", "y1", "x2", "y2"]
    out_counts = out[key_cols].value_counts()
    in_counts = dets[key_cols].value_counts()
    for key, cnt in out_counts.items():
        assert cnt <= in_counts.get(key, 0)


@given(scene_detections())
@settings(max_examples=50, deadline=None)
def test_tracking_deterministic(dets):
    a = greedy_track_scene(dets)
    b = greedy_track_scene(dets.sample(frac=1.0, random_state=7).reset_index(drop=True))
    # input row order must not matter: the kernel sorts by (frame, det)
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_track_ids_run_over_the_video_in_scene_order(spark):
    """Each scene is tracked on its own, but track ids number the whole
    video's tracks in scene order (the reference's allTracks), so
    consumers keyed on (video_id, track_id) never merge two scenes'
    tracks."""
    from talknet_segmentation_batchprocessing_spark.operators.tracking import (
        track_faces,
    )

    rows = []
    # scene 0: frames 0-11, two actors; scene 1: frames 12-23, one
    for scene, frames, actors in ((0, range(0, 12), (0, 1)), (1, range(12, 24), (0,))):
        for f in frames:
            for a in actors:
                x = 20.0 + 60.0 * a + 0.5 * f
                rows.append(("v", scene, f, a, x, 40.0, x + 30.0, 70.0))
    dets = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["video_id", "scene_id", "frame_idx", "det_id", "x1", "y1", "x2", "y2"],
        )
    )
    out = track_faces(dets, min_track=10).toPandas()
    per_track = out.groupby("track_id").agg(
        scene=("scene_id", "unique"), first=("frame_idx", "min"), n=("frame_idx", "size")
    )
    assert per_track.index.tolist() == [0, 1, 2]
    assert [list(s) for s in per_track.scene] == [[0], [0], [1]]
    assert per_track["first"].tolist() == [0, 0, 12]
    assert (per_track.n == 12).all()


# ---------------------------------------------------------------------------
# W2/W3 reference-quirk parity vs numpy transcriptions (Spark, seeded)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def quirk_data():
    rng = np.random.RandomState(42)
    return pd.DataFrame(
        {
            "track_id": np.repeat([0, 1, 2], 37),
            "frame_idx": np.tile(np.arange(37), 3),
            "value": rng.uniform(-3, 3, size=111).round(3),
        }
    )


def test_w2_tail_quirk_parity(spark, quirk_data):
    """reference smoothing: mean(score[max(i-2,0) : min(i+3, n-1)])
    (demoTalkNet.py:349-351) — the n-1 bound drops the final frame."""
    from talknet_segmentation_batchprocessing_spark.operators.windows import (
        centered_mean,
    )

    df = spark.createDataFrame(quirk_data)
    got = (
        centered_mean(
            df, ["track_id"], ["frame_idx"], "value", 2, 2, "sm",
            reference_tail_quirk=True,
        )
        .toPandas()
        .sort_values(["track_id", "frame_idx"])
        .reset_index(drop=True)
    )
    for tid, grp in quirk_data.groupby("track_id"):
        x = grp.sort_values("frame_idx").value.to_numpy()
        n = len(x)
        expect = np.array([np.mean(x[max(i - 2, 0) : min(i + 3, n - 1)]) for i in range(n)])
        have = got[got.track_id == tid].sm.to_numpy()
        np.testing.assert_allclose(have, expect, rtol=0, atol=1e-12)


def test_w3_medfilt_zero_pad_parity(spark, quirk_data):
    """scipy.signal.medfilt semantics (demoTalkNet.py:185-192): k//2
    zeros padded on each side, exact middle element of the sorted
    window."""
    from talknet_segmentation_batchprocessing_spark.operators.windows import (
        windowed_median,
    )

    k = 13
    df = spark.createDataFrame(quirk_data)
    got = (
        windowed_median(df, ["track_id"], ["frame_idx"], "value", k=k, zero_pad=True)
        .toPandas()
        .sort_values(["track_id", "frame_idx"])
        .reset_index(drop=True)
    )
    half = k // 2
    for tid, grp in quirk_data.groupby("track_id"):
        x = grp.sort_values("frame_idx").value.to_numpy()
        padded = np.concatenate([np.zeros(half), x, np.zeros(half)])
        expect = np.array(
            [np.sort(padded[i : i + k])[half] for i in range(len(x))]
        )
        have = got[got.track_id == tid].med.to_numpy()
        np.testing.assert_allclose(have, expect, rtol=0, atol=0)
