"""Full-pipeline integration: the ten reference stages chained through
the package's public operators on fake media (SURVEY.md §3.2), ending
in segments + summary — the regression form of the manual e2e drive."""

from __future__ import annotations

import os

import numpy as np


def test_full_asd_pipeline(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.nms import nms
    from talknet_segmentation_batchprocessing_spark.operators.scenes import detect_scenes
    from talknet_segmentation_batchprocessing_spark.operators.segmentation import (
        extract_segments,
    )
    from talknet_segmentation_batchprocessing_spark.operators.tracking import track_faces
    from talknet_segmentation_batchprocessing_spark.sources.checkpoints import (
        checkpoint,
        restore,
    )
    from talknet_segmentation_batchprocessing_spark.sources.corpus import (
        scan_video_folder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        fake_decoder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.segment_sink import (
        manifest_cutter,
        summary_report,
        write_segment_media,
    )
    from talknet_segmentation_batchprocessing_spark.schemas import SEGMENTS

    folder = tmp_path / "corpus"
    folder.mkdir()
    for n in ("clipA.mp4", "clipB.AVI"):
        (folder / n).write_bytes(n.encode() * 50)

    videos = scan_video_folder(spark, str(folder))                  # S1
    frames = explode_frames(videos, decoder=fake_decoder(n_frames=80))  # S3/S5
    scenes = detect_scenes(frames)                                  # M2
    dets = detect_faces(frames)                                     # M1 + F1
    kept = nms(dets, overlap=0.3, top_k=10)                         # W6
    with_scene = kept.join(
        scenes,
        on=[
            kept.video_id == scenes.video_id,
            (kept.frame_idx >= scenes.start_frame) & (kept.frame_idx < scenes.end_frame),
        ],
    ).select(kept["*"], scenes.scene_id)
    tracks = track_faces(with_scene, min_track=10)                  # J6 + F3
    scores = score_tracks(tracks.select("video_id", "track_id", "frame_idx"))  # M3/A1/W9
    segs = extract_segments(scores, threshold=0.0, min_duration_s=0.2)  # W1/F5/F6/X10
    root = str(tmp_path / "stages")
    checkpoint(segs, root, "segments")                              # S7
    back = restore(spark, root, "segments", schema=SEGMENTS)

    seg_pdf = back.toPandas()
    assert len(seg_pdf) > 0
    assert (seg_pdf.end_frame > seg_pdf.start_frame).all()
    np.testing.assert_allclose(seg_pdf.start_ts, seg_pdf.start_frame / 25.0)

    out = str(tmp_path / "cuts")
    write_segment_media(back, videos.select("video_id", "path"), manifest_cutter(out))  # S10
    assert len(os.listdir(out)) == len(seg_pdf)

    summary = summary_report(back).toPandas()                       # S11/A3
    assert set(summary.video_id) <= {"clipA", "clipB"}
    assert (summary.n_segments >= 1).all()


def test_scene_detection_finds_synthetic_cut(spark):
    from talknet_segmentation_batchprocessing_spark.operators.scenes import detect_scenes

    # 60 frames: constant dark until 29, constant bright after -> one cut at 30
    rows = []
    for f in range(60):
        level = 10 if f < 30 else 240
        rows.append(("v", f, bytes([level] * 64), 8, 8))
    frames = spark.createDataFrame(
        rows, "video_id string, frame_idx int, image binary, height int, width int"
    )
    scenes = detect_scenes(frames).toPandas().sort_values("scene_id")
    assert len(scenes) == 2
    assert scenes.iloc[0].start_frame == 0 and scenes.iloc[0].end_frame == 30
    assert scenes.iloc[1].start_frame == 30 and scenes.iloc[1].end_frame == 60


def test_full_pipeline_real_forward(spark, tmp_path):
    """The media pipeline driving the REAL numpy TalkNet forward: fake
    decode -> detect -> track -> featurize (face crops + per-track
    MFCC, demoTalkNet.py:178-223) -> ensemble scoring -> segments.
    Everything but the codec and the learned weights is the production
    path."""
    from talknet_segmentation_batchprocessing_spark.operators.featurize import (
        featurize_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.scenes import detect_scenes
    from talknet_segmentation_batchprocessing_spark.operators.segmentation import (
        extract_segments,
    )
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )
    from talknet_segmentation_batchprocessing_spark.operators.tracking import track_faces
    from talknet_segmentation_batchprocessing_spark.sources.corpus import (
        scan_video_folder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        extract_audio,
        fake_decoder,
    )

    folder = tmp_path / "corpus"
    folder.mkdir()
    (folder / "clipC.mp4").write_bytes(b"clipC" * 40)

    videos = scan_video_folder(spark, str(folder))
    dec = fake_decoder(n_frames=30)
    frames = explode_frames(videos, decoder=dec)
    audio = extract_audio(videos, decoder=dec)
    scenes = detect_scenes(frames)
    dets = detect_faces(frames)
    with_scene = dets.join(
        scenes,
        on=[
            dets.video_id == scenes.video_id,
            (dets.frame_idx >= scenes.start_frame)
            & (dets.frame_idx < scenes.end_frame),
        ],
    ).select(dets["*"], scenes.scene_id)
    tracks = track_faces(with_scene, min_track=10)
    feats = featurize_tracks(tracks, frames, audio)
    fpdf = feats.toPandas()
    assert len(fpdf) > 0
    assert all(len(m) == 4 * 13 for m in fpdf.mfcc)
    assert all(len(f) == 112 * 112 for f in fpdf.face)

    scores = score_tracks(
        feats,
        model_builder=lambda _state: talknet_scorer(seed=11),
        durations=[1],
    )
    spdf = scores.toPandas()
    assert len(spdf) == len(fpdf)
    assert np.isfinite(spdf.score).all()

    segs = extract_segments(scores, threshold=float(spdf.score.median()),
                            min_duration_s=0.12).toPandas()
    # with a median threshold there is at least one above-threshold run
    assert (segs.end_frame > segs.start_frame).all()
