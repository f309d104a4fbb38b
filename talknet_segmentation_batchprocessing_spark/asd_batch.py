"""The paper's batch in one call: ``batchProcessVideos.py``, which runs
``demoTalkNet.py main()`` and then ``extractSpeakingSegments.py`` over
a folder of videos (SURVEY §3.1-3.2). OPERATIONS.md "Run the ASD batch"
is its runbook."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators.featurize import featurize_tracks
from .operators.inference import detect_faces, score_tracks
from .operators.scenes import detect_scenes
from .operators.segmentation import DEFAULT_MIN_DURATION_S, DEFAULT_THRESHOLD, extract_segments
from .operators.tracking import track_faces
from .schemas import SCORES, SEGMENTS
from .sources import segment_sink as sink
from .sources.checkpoints import checkpoint, restore
from .sources.corpus import scan_video_folder
from .sources.media_ingest import explode_frames, extract_audio


def run_asd_batch(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    *,
    decoder=None,
    detector_bc=None,
    detector_builder=None,
    scorer_builder=None,
    conf_th: float = 0.9,
    min_track: int = 10,
    threshold: float = DEFAULT_THRESHOLD,
    min_duration_s: float = DEFAULT_MIN_DURATION_S,
) -> tuple[DataFrame, DataFrame]:
    """Score every video in ``corpus_dir`` with the full duration ensemble
    and cut its speaking segments. Writes the S7 ``scores`` and
    ``segments`` stage checkpoints under ``out_dir``, one cut per
    segment under ``out_dir/manifests`` (S10, ``manifest_cutter``) and
    ``summary.txt`` (S11); returns the (scores, segments) readbacks.

    Each keyword is a parameter or plug-in of one operator, with its
    default there: ``decoder`` of ``explode_frames``/``extract_audio``;
    ``detector_bc``, ``detector_builder`` and ``conf_th`` of
    ``detect_faces``; ``min_track`` of ``track_faces``;
    ``scorer_builder`` of ``score_tracks``; ``threshold`` and
    ``min_duration_s`` of ``extract_segments``.
    """
    videos = scan_video_folder(spark, corpus_dir, with_content=True)
    frames = explode_frames(videos, decoder=decoder)
    audio = extract_audio(videos, decoder=decoder)
    scenes = detect_scenes(frames)
    dets = detect_faces(
        frames, model_bc=detector_bc, model_builder=detector_builder, conf_th=conf_th
    )
    with_scene = dets.join(
        scenes,
        on=[
            dets.video_id == scenes.video_id,
            (dets.frame_idx >= scenes.start_frame) & (dets.frame_idx < scenes.end_frame),
        ],
    ).select(dets["*"], scenes.scene_id)
    feats = featurize_tracks(track_faces(with_scene, min_track=min_track), frames, audio)
    checkpoint(score_tracks(feats, model_builder=scorer_builder), out_dir, "scores")
    scores = restore(spark, out_dir, "scores", schema=SCORES)
    segments = extract_segments(scores, threshold=threshold, min_duration_s=min_duration_s)
    checkpoint(segments, out_dir, "segments")
    segments = restore(spark, out_dir, "segments", schema=SEGMENTS)
    cutter = sink.manifest_cutter(os.path.join(out_dir, "manifests"))
    sink.write_segment_media(segments, videos.select("video_id", "path"), cutter)
    with open(os.path.join(out_dir, "summary.txt"), "w") as f:
        f.write(sink.format_summary(sink.summary_report(segments).collect()))
    return scores, segments
