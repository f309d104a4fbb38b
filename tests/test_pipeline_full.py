"""Full-pipeline integration: the reference stages on fake media
through the engine's one batch entry (SURVEY.md §3.2), ending in
segments + cuts + summary — the regression form of the manual e2e
drive."""

from __future__ import annotations

import os
import re

import numpy as np


def test_full_asd_pipeline(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.asd_batch import run_asd_batch
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        fake_decoder,
    )

    folder = tmp_path / "corpus"
    folder.mkdir()
    for n in ("clipA.mp4", "clipB.AVI"):
        (folder / n).write_bytes(n.encode() * 50)

    out = tmp_path / "out"
    _, back = run_asd_batch(
        spark, str(folder), str(out), decoder=fake_decoder(n_frames=80), min_duration_s=0.2
    )

    seg_pdf = back.toPandas()
    assert len(seg_pdf) > 0
    assert (seg_pdf.end_frame > seg_pdf.start_frame).all()
    np.testing.assert_allclose(seg_pdf.start_ts, seg_pdf.start_frame / 25.0)

    assert len(os.listdir(out / "manifests")) == len(seg_pdf)  # S10

    summary = (out / "summary.txt").read_text().splitlines()  # S11/A3
    rows = [re.match(r"video (\w+) track \d+: (\d+) segment", line) for line in summary]
    assert all(rows) and len(rows) == len(seg_pdf.groupby(["video_id", "track_id"]))
    assert {m[1] for m in rows} <= {"clipA", "clipB"}
    assert all(int(m[2]) >= 1 for m in rows)


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
    path; the forward reshapes every row's MFCC to [-1, 13] and face to
    [112, 112], so finite scores pin the featurize shapes."""
    from talknet_segmentation_batchprocessing_spark.asd_batch import run_asd_batch
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        fake_decoder,
    )

    folder = tmp_path / "corpus"
    folder.mkdir()
    (folder / "clipC.mp4").write_bytes(b"clipC" * 40)

    scores, segs = run_asd_batch(
        spark,
        str(folder),
        str(tmp_path / "out"),
        decoder=fake_decoder(n_frames=30),
        scorer_builder=lambda _state: talknet_scorer(seed=11),
        threshold=float("-inf"),
        min_duration_s=0.12,
    )
    spdf = scores.toPandas()
    assert len(spdf) > 0
    assert np.isfinite(spdf.score).all()

    # every frame speaks: one segment per track
    segs = segs.toPandas()
    assert len(segs) == len(spdf.groupby(["video_id", "track_id"]))
    assert (segs.end_frame > segs.start_frame).all()
