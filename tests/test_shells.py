"""Unit tests for the media/NN shells and sources (SURVEY.md §5: shells
are seeded-unit-tested, not oracle-checked): deterministic fakes, real
Spark plumbing — schemas, fan-out shape, partition behavior."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def videos_df(spark):
    return spark.createDataFrame(
        [("vidA", "/data/vidA.mp4"), ("vidB", "/data/vidB.mp4")],
        "video_id string, path string",
    )


def test_explode_frames_shape_and_timebase(spark, videos_df):
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        fake_decoder,
    )

    frames = explode_frames(videos_df, decoder=fake_decoder(n_frames=10)).toPandas()
    assert len(frames) == 20  # 2 videos x 10 frames
    one = frames[frames.video_id == "vidA"].sort_values("frame_idx")
    assert list(one.frame_idx) == list(range(10))
    assert one.ts.tolist() == [i / 25.0 for i in range(10)]  # X10 time base
    assert all(len(b) == 64 for b in one.image)  # 8x8 uint8 payload


def test_explode_frames_deterministic(spark, videos_df):
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
    )

    a = explode_frames(videos_df).toPandas().sort_values(["video_id", "frame_idx"])
    b = explode_frames(videos_df).toPandas().sort_values(["video_id", "frame_idx"])
    assert a.image.tolist() == b.image.tolist()


def test_extract_audio_chunking(spark, videos_df):
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        extract_audio,
        fake_decoder,
    )

    audio = extract_audio(videos_df, decoder=fake_decoder(n_frames=50)).toPandas()
    one = audio[audio.video_id == "vidA"].sort_values("chunk_idx")
    # 50 frames / 25 fps = 2 s -> 2 chunks of 16000 samples
    assert list(one.chunk_idx) == [0, 1]
    assert all(one.sr == 16000)
    assert sum(len(s) for s in one.samples) == 32000


def test_detect_faces_fanout_and_conf_filter(spark, videos_df):
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        fake_decoder,
    )

    frames = explode_frames(videos_df, decoder=fake_decoder(n_frames=30))
    dets = detect_faces(frames, conf_th=0.9).toPandas()
    assert set(dets.columns) == {
        "video_id", "frame_idx", "det_id", "x1", "y1", "x2", "y2", "conf"
    }
    assert (dets.conf > 0.9).all()  # F1 strict threshold inside the shell
    assert (dets.x2 > dets.x1).all() and (dets.y2 > dets.y1).all()
    # deterministic across reruns
    dets2 = detect_faces(frames, conf_th=0.9).toPandas()
    pd.testing.assert_frame_equal(
        dets.sort_values(["video_id", "frame_idx", "det_id"]).reset_index(drop=True),
        dets2.sort_values(["video_id", "frame_idx", "det_id"]).reset_index(drop=True),
    )


def test_detect_faces_with_real_s3fd_postprocessing(spark, videos_df):
    """M1 through the Spark shell with the REAL post-processing path:
    fake heads -> priors/decode/NMS (s3fd_post) -> detection rows."""
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
        s3fd_detector,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        fake_decoder,
    )

    frames = explode_frames(videos_df, decoder=fake_decoder(n_frames=20))
    dets = detect_faces(
        frames, model_builder=lambda _state: s3fd_detector(), conf_th=0.9
    ).toPandas()
    assert len(dets) > 0
    assert (dets.conf > 0.9).all()
    assert (dets.x2 > dets.x1).all() and (dets.y2 > dets.y1).all()
    # det_id is NMS rank: score-descending within each frame
    by_frame = dets.sort_values(["video_id", "frame_idx", "det_id"])
    for _, grp in by_frame.groupby(["video_id", "frame_idx"]):
        assert (grp.conf.diff().dropna() <= 1e-12).all()
    # deterministic across reruns
    dets2 = detect_faces(
        frames, model_builder=lambda _state: s3fd_detector(), conf_th=0.9
    ).toPandas()
    pd.testing.assert_frame_equal(
        dets.sort_values(["video_id", "frame_idx", "det_id"]).reset_index(drop=True),
        dets2.sort_values(["video_id", "frame_idx", "det_id"]).reset_index(drop=True),
    )


def test_score_tracks_ensemble(spark):
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        score_tracks,
    )

    feats = spark.createDataFrame(
        [("v", t, f) for t in (0, 1) for f in range(60)],
        "video_id string, track_id int, frame_idx int",
    )
    scores = score_tracks(feats).toPandas()
    assert len(scores) == 120  # one score per (track, frame)
    assert scores.score.between(-2.0, 2.0).all()
    # X14: rounded to 1 decimal
    assert (scores.score * 10 % 1 == 0).all()


def test_executor_model_cache_matches_broadcast_by_identity():
    """The per-process model cache matches the broadcast it was built
    from by identity: a worker drops a broadcast its task does not use,
    and a new broadcast at the freed address must not get the old
    model. The cache does not keep a dropped broadcast (and its bytes)
    alive."""
    import gc
    import weakref

    from talknet_segmentation_batchprocessing_spark.operators import inference

    class StubBroadcast:
        def __init__(self, value):
            self.value = value

    builds = []

    def builder(state):
        builds.append(state)
        return ("model", state)

    inference._MODEL_CACHE.clear()
    try:
        bc = StubBroadcast("w0")
        assert inference._executor_model(bc, builder) == ("model", "w0")
        assert inference._executor_model(bc, builder) == ("model", "w0")
        assert builds == ["w0"]
        ref = weakref.ref(bc)
        del bc
        gc.collect()
        assert ref() is None
        # CPython usually hands a new object the address just freed
        for i in range(1, 6):
            bc = StubBroadcast(f"w{i}")
            assert inference._executor_model(bc, builder) == ("model", f"w{i}")
            del bc
        assert builds == [f"w{i}" for i in range(6)]
    finally:
        inference._MODEL_CACHE.clear()


def test_segment_sink_manifest_and_summary(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.operators.segmentation import (
        extract_segments,
    )
    from talknet_segmentation_batchprocessing_spark.sources.segment_sink import (
        format_summary,
        manifest_cutter,
        summary_report,
        write_segment_media,
    )

    scores = spark.createDataFrame(
        [("v", 0, f, 1.0 if 5 <= f < 30 else -1.0) for f in range(50)],
        "video_id string, track_id int, frame_idx int, score double",
    )
    segs = extract_segments(scores, threshold=0.0, min_duration_s=0.5)
    seg_rows = segs.toPandas()
    assert len(seg_rows) == 1
    assert (seg_rows.start_frame[0], seg_rows.end_frame[0]) == (5, 30)  # end exclusive

    out_dir = str(tmp_path / "cuts")
    paths = spark.createDataFrame([("v", "/data/v.mp4")], "video_id string, path string")
    write_segment_media(segs, paths, manifest_cutter(out_dir))
    manifests = os.listdir(out_dir)
    assert manifests == ["v_t00000_s00000.json"]

    summary = summary_report(segs)
    text = format_summary(summary.collect())
    assert "video v track 0: 1 segment(s), 1.00s speaking" in text


def test_scan_video_folder(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.corpus import (
        scan_video_folder,
    )

    for name in ("a.mp4", "b.MP4", "c.avi", "d.txt"):
        (tmp_path / name).write_bytes(b"xx" + name.encode())
    df = scan_video_folder(spark, str(tmp_path)).toPandas()
    assert sorted(df.video_id) == ["a", "b", "c"]  # case-insensitive, txt excluded
    assert set(df.ext) == {"mp4", "avi"}
    assert "content" not in df.columns  # payload pruned by default


def test_csv_roundtrip_predictions(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.csv_io import (
        write_predictions_csv,
    )

    preds = spark.createDataFrame(
        [("v", 1.0, 0.7, 3, "i1")],
        "video_id string, frame_timestamp double, score double, label_id int, instance_id string",
    )
    out = str(tmp_path / "preds")
    write_predictions_csv(preds, out)
    back = spark.read.csv(out, header=True).toPandas()
    assert "label" in back.columns and back.label[0] == "SPEAKING_AUDIBLE"
    assert "label_id" not in back.columns and "instance_id" not in back.columns


def test_read_ava_csv_projects_eval_columns(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.csv_io import (
        AVA_EVAL_COLUMNS,
        read_ava_csv,
    )

    path = tmp_path / "ava.csv"
    path.write_text(
        "video_id,frame_timestamp,entity_box_x1,entity_box_y1,entity_box_x2,"
        "entity_box_y2,label,entity_id,label_id,instance_id\n"
        "vA,900.56,0.1,0.2,0.3,0.4,SPEAKING_AUDIBLE,vA_0_900_960:1,1,i7\n"
        "vA,900.6,0.15,0.2,0.35,0.4,NOT_SPEAKING,vA_0_900_960:1,0,i8\n"
    )
    df = read_ava_csv(spark, str(path))
    assert df.columns == list(AVA_EVAL_COLUMNS)
    rows = df.orderBy("frame_timestamp").collect()
    assert [r.frame_timestamp for r in rows] == [900.56, 900.6]
    assert (rows[0].entity_box_x2, rows[0].label) == (0.3, "SPEAKING_AUDIBLE")
    assert rows[1].entity_id == "vA_0_900_960:1"


def test_read_trial_list_parses_label_array(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.csv_io import (
        read_trial_list,
    )

    path = tmp_path / "trials.tsv"
    path.write_text(
        "vA:e1\t3\t25.0\t[0,1,1]\textra\n"
        "vB:e2\t2\t25.0\t[1, 0]\textra\n"
    )
    rows = {r.data_name: r for r in read_trial_list(spark, str(path)).collect()}
    assert (rows["vA:e1"].num_frames, rows["vA:e1"].fps) == (3, 25.0)
    assert rows["vA:e1"].label_array == [0, 1, 1]
    assert rows["vB:e2"].label_array == [1, 0]


def test_read_talkset_list_nine_fields(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.csv_io import (
        read_talkset_list,
    )

    path = tmp_path / "talkset.txt"
    path.write_text(
        "TAudio id1/a/00001 id1/a/00001 4.5 0 4.5 0 4.5 id1_a_00001\n"
        "FSilence id2/b/00002 id3/c/00003 6 1.5 6 0 4.5 id2_b_00002\n"
    )
    rows = read_talkset_list(spark, str(path)).orderBy("file_id").collect()
    assert len(rows) == 2 and len(rows[0]) == 9
    assert tuple(rows[0]) == (
        "TAudio", "id1/a/00001", "id1/a/00001", 4.5, 0.0, 4.5, 0.0, 4.5,
        "id1_a_00001",
    )
    assert (rows[1].clip_type, rows[1].start_T, rows[1].end_F) == (
        "FSilence", 1.5, 4.5,
    )


def test_write_if_absent_keeps_first_contents(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.corpus import (
        write_if_absent,
    )

    path = str(tmp_path / "copy")
    write_if_absent(spark.createDataFrame([(1, "first")], "k int, v string"), path)
    write_if_absent(spark.createDataFrame([(2, "second")], "k int, v string"), path)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(1, "first")]


def test_checkpoint_roundtrip(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.checkpoints import (
        checkpoint,
        has_stage,
        restore,
    )

    df = spark.createDataFrame(
        [("v1", 1, 0.5), ("v2", 2, 0.7)], "video_id string, frame_idx int, score double"
    )
    root = str(tmp_path / "stages")
    checkpoint(df, root, "scores")
    assert has_stage(root, "scores")
    back = restore(spark, root, "scores").toPandas().sort_values("frame_idx")
    assert back.score.tolist() == [0.5, 0.7]


def test_multimodal_features(spark):
    from talknet_segmentation_batchprocessing_spark.operators.multimodal import (
        extract_image_features,
        fake_image_decoder,
        sample_video_frames,
    )

    docs = spark.createDataFrame(
        [(1, bytearray(b"imgpayload1")), (2, bytearray(b"imgpayload2"))],
        "doc_id long, payload binary",
    )
    feats = extract_image_features(
        docs, "payload", "doc_id", decoder=fake_image_decoder(16, 16)
    ).toPandas()
    assert all(len(f) == 64 for f in feats.feature)  # 8x8 block means
    assert all(0.0 <= x <= 1.0 for f in feats.feature for x in f)

    frames = spark.range(100).select(F.col("id").cast("int").alias("frame_idx"))
    sampled = sample_video_frames(frames, every_n=25).toPandas()
    assert sampled.frame_idx.tolist() == [0, 25, 50, 75]


def test_video_corpus_datasource(spark, tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources import datasource

    for name in ("x.mp4", "y.mkv", "skip.txt"):
        (tmp_path / name).write_bytes(name.encode() * 3)
    spark.dataSource.register(datasource.VideoCorpusDataSource)
    df = (
        spark.read.format("video_corpus")
        .option("path", str(tmp_path))
        .load()
    )
    pdf = df.toPandas().sort_values("video_id")
    assert pdf.video_id.tolist() == ["x", "y"]
    assert "content" not in pdf.columns  # metadata-only by default
    full = (
        spark.read.format("video_corpus")
        .option("path", str(tmp_path))
        .option("with_content", "true")
        .load()
        .toPandas()
        .sort_values("video_id")
    )
    assert full.content.iloc[0] == b"x.mp4" * 3
    # composes with the relational surface (filter + projection)
    n = df.filter("ext = 'mp4'").count()
    assert n == 1


def test_video_corpus_stream_rate_limit_and_resume(spark, tmp_path):
    """TRUE incremental S2 (batchProcessVideos.py:111-124): the
    video_corpus format under readStream consumes the folder
    sequentially at max_files_per_batch per micro-batch, and a
    restarted query resumes from the committed offset — new files
    only, no reprocessing."""
    from talknet_segmentation_batchprocessing_spark.sources import datasource

    folder = tmp_path / "drop"
    folder.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out: list = []
    for i in range(3):
        (folder / f"clip{i:03d}.avi").write_bytes(b"x" * (i + 1))
    spark.dataSource.register(datasource.VideoCorpusDataSource)

    def run_once():
        stream = (
            spark.readStream.format("video_corpus")
            .option("path", str(folder))
            .option("max_files_per_batch", "2")
            .load()
        )
        batches: list = []

        def sink(df, epoch_id):
            rows = df.collect()
            if rows:
                batches.append(sorted(r["video_id"] for r in rows))
            out.extend(rows)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return batches

    # availableNow drains the prefetched batch then stops; each run is
    # one rate-limited step, and every restart resumes from the
    # checkpointed offset — loop until the first 3 files are consumed
    all_batches = []
    for _ in range(4):
        all_batches.extend(run_once())
        if len(out) >= 3:
            break
    assert sorted(r["video_id"] for r in out) == ["clip000", "clip001", "clip002"]
    # rate limit: no micro-batch ever carried more than 2 files
    assert all(len(b) <= 2 for b in all_batches)

    for i in range(3, 5):
        (folder / f"clip{i:03d}.avi").write_bytes(b"x")
    for _ in range(4):
        run_once()
        if len(out) >= 5:
            break
    ids = sorted(r["video_id"] for r in out)
    # resume processed ONLY the two new files (no clip000-002 dupes)
    assert ids == [f"clip{i:03d}" for i in range(5)]


def test_detect_faces_runs_frames_of_a_batch_at_once(spark):
    """A per-frame detector whose calls wait at a two-party barrier:
    the one-partition batch only finishes if the task's pool runs two
    frames at the same time. A serial task breaks the barrier after
    30 s and fails instead of hanging."""
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        detect_faces,
        fake_face_detector,
    )

    if spark.sparkContext.defaultParallelism < 2 or len(os.sched_getaffinity(0)) < 2:
        pytest.skip("the forward pool needs two cores")
    calls = spark.sparkContext.accumulator(0)

    def build(_state):
        import threading

        meet = threading.Barrier(2, timeout=30)
        detect = fake_face_detector()

        def counted(video_id, frame_idx, image):
            meet.wait()
            calls.add(1)
            return detect(video_id, frame_idx, image)

        return counted

    frames = spark.createDataFrame(
        [("vidA", f) for f in range(4)], "video_id string, frame_idx int"
    ).coalesce(1)
    dets = detect_faces(frames, model_builder=build, conf_th=0.0).toPandas()
    assert calls.value == 4
    want = detect_faces(frames, conf_th=0.0).toPandas()
    key = ["video_id", "frame_idx", "det_id"]
    pd.testing.assert_frame_equal(
        dets.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )
