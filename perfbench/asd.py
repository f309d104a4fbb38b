"""asd_mjpeg: the paper's batch pipeline on real MJPEG/PCM bytes.

One operation is one batch over the corpus folder, the chain of
``tests/test_mjpeg_to_segments_e2e.py`` with the full duration
ensemble: binaryFile scan -> RIFF/JPEG decode -> S3FD -> scenes -> IoU
tracking -> crop+MFCC -> TalkNet -> per-frame scores table ->
run-length segments table -> per-segment manifests + summary report.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import time

import numpy as np

import corpus
from spans import Counters, JobStats, Tracer, timed, udf_timing

# one short clip: a batch already takes ~30 s on 4 cores, nearly all of
# it in the TalkNet ensemble; a track needs more than MIN_TRACK faces
N_VIDEOS = 1
N_FRAMES = 6
# on decoded corpus frames the seeded detector scores four boxes above
# 0.9994 and the fifth below 0.88, so every seed keeps four tracks
CONF_TH = 0.995
MIN_TRACK = 5
MIN_DURATION_S = 0.04
DETECTOR_SEED = 13
SCORER_SEED = 11
# wall time of one batch on the 4-core reference host
NOMINAL_BATCH_S = 30.0
STAGES = ("ingest", "scenes", "detect", "track", "featurize", "score")


def detector_builder(wrap_forward=None):
    """npz checkpoint bytes -> S3FD detector over the raw grayscale frame
    bytes the RIFF ingest emits (frames are HEIGHT x WIDTH)."""

    def build(state: bytes):
        from talknet_segmentation_batchprocessing_spark.operators.inference import (
            s3fd_detector,
        )
        from talknet_segmentation_batchprocessing_spark.operators.s3fd_net import (
            s3fd_forward_fn,
        )

        z = np.load(io.BytesIO(state))
        base = s3fd_forward_fn({k: z[k] for k in z.files})

        def forward(image, meta):
            arr = np.frombuffer(image, dtype=np.uint8).reshape(corpus.HEIGHT, corpus.WIDTH)
            return base(np.repeat(arr[:, :, None], 3, axis=2), meta)

        if wrap_forward is not None:
            forward = wrap_forward(forward)
        return s3fd_detector(
            forward_fn=forward, input_size=(corpus.HEIGHT, corpus.WIDTH), conf_th=CONF_TH
        )

    return build


def scorer_builder(wrap_score=None):
    def build(_state):
        from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
            talknet_scorer,
        )

        score = talknet_scorer(seed=SCORER_SEED)
        if wrap_score is None:
            return score
        wrapped = wrap_score(score)
        wrapped.needs_features = True
        return wrapped

    return build


class Plugins:
    """The plug-in callables handed to the operators. Traced plug-ins
    count calls, busy seconds and items in accumulators."""

    def __init__(self, counters: Counters | None = None) -> None:
        from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
            riff_decoder,
        )
        from talknet_segmentation_batchprocessing_spark.sources.segment_sink import (
            manifest_cutter,
        )

        if counters is None:
            self.decoder = riff_decoder()
            self.detector = detector_builder()
            self.scorer = scorer_builder()
            self.cutter = manifest_cutter
            return
        # closures shipped to workers must hold accumulators, not the
        # driver-side Counters (which references the SparkContext)
        a = {
            k: counters[k]
            for k in (
                "ingest.decode_calls", "ingest.decode_s", "ingest.frames_decoded",
                "detect.forward_calls", "detect.forward_s",
                "detect.builder_calls", "detect.builder_s",
                "score.forward_calls", "score.forward_s", "score.frames_scored",
                "score.builder_calls", "score.builder_s", "sink.files", "sink.cut_s",
            )
        }
        self.decoder = timed(
            riff_decoder(), a["ingest.decode_calls"], a["ingest.decode_s"],
            lambda _args, out: len(out[0]), a["ingest.frames_decoded"],
        )
        fwd_calls, fwd_s = a["detect.forward_calls"], a["detect.forward_s"]
        self.detector = timed(
            detector_builder(lambda f: timed(f, fwd_calls, fwd_s)),
            a["detect.builder_calls"], a["detect.builder_s"],
        )
        sc_calls, sc_s, sc_frames = (
            a["score.forward_calls"], a["score.forward_s"], a["score.frames_scored"]
        )
        self.scorer = timed(
            scorer_builder(
                lambda f: timed(f, sc_calls, sc_s, lambda args, _out: len(args[2]), sc_frames)
            ),
            a["score.builder_calls"], a["score.builder_s"],
        )
        cut_calls, cut_s = a["sink.files"], a["sink.cut_s"]
        self.cutter = lambda out_dir: timed(manifest_cutter(out_dir), cut_calls, cut_s)


def run_pipeline(spark, corpus_dir: str, out_dir: str, weights_bc, plug: Plugins,
                 tracer: Tracer) -> None:
    from pyspark.sql import functions as F

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
    from talknet_segmentation_batchprocessing_spark.operators.tracking import track_faces
    from talknet_segmentation_batchprocessing_spark.sources.corpus import (
        scan_video_folder,
    )
    from talknet_segmentation_batchprocessing_spark.sources.media_ingest import (
        explode_frames,
        extract_audio,
    )
    from talknet_segmentation_batchprocessing_spark.sources.segment_sink import (
        summary_report,
        write_segment_media,
    )

    span = tracer.span
    with span("build"):
        with span("ingest"):
            videos = scan_video_folder(spark, corpus_dir, with_content=True)
            frames = explode_frames(videos, decoder=plug.decoder)
            audio = extract_audio(videos, decoder=plug.decoder)
        with span("scenes"):
            scenes = detect_scenes(frames)
        with span("detect"):
            dets = detect_faces(
                frames, model_bc=weights_bc, model_builder=plug.detector, conf_th=CONF_TH
            )
        with span("track"):
            with_scene = dets.join(
                scenes,
                on=[
                    dets.video_id == scenes.video_id,
                    (dets.frame_idx >= scenes.start_frame)
                    & (dets.frame_idx < scenes.end_frame),
                ],
            ).select(dets["*"], scenes.scene_id)
            tracks = track_faces(with_scene, min_track=MIN_TRACK)
        with span("featurize"):
            feats = featurize_tracks(tracks, frames, audio)
        with span("score"):
            scores = score_tracks(feats, model_builder=plug.scorer)
    if tracer.enabled:
        with span("plan"):
            scores._jdf.queryExecution().executedPlan()
    with span("scores_table"):
        scores.write.mode("overwrite").parquet(os.path.join(out_dir, "scores"))
    with span("segment"):
        # the seeded scorer's scale is arbitrary, so speaking means above
        # the batch's median score
        scored = spark.read.parquet(os.path.join(out_dir, "scores"))
        threshold = scored.agg(F.median("score")).first()[0]
        extract_segments(
            scored, threshold=threshold, min_duration_s=MIN_DURATION_S
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "segments"))
    segments = spark.read.parquet(os.path.join(out_dir, "segments"))
    with span("sink"):
        write_segment_media(
            segments,
            videos.select("video_id", "path"),
            plug.cutter(os.path.join(out_dir, "manifests")),
        )
    with span("summary"):
        rows = summary_report(segments).collect()
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump({"threshold": threshold, "rows": [r.asDict() for r in rows]}, f)


def reference_segments(scores, threshold: float, min_frames: int) -> list[tuple]:
    """Segments recomputed in Python from the scores table: per track in
    frame order, each maximal run of rows with score > threshold whose
    frame span is at least ``min_frames``, numbered from 0."""
    out = []
    for (vid, tid), g in scores.sort_values("frame_idx").groupby(["video_id", "track_id"]):
        f = g.frame_idx.to_numpy()
        on = g.score.to_numpy() > threshold
        seg_id, i = 0, 0
        while i < len(f):
            if not on[i]:
                i += 1
                continue
            j = i
            while j + 1 < len(f) and on[j + 1]:
                j += 1
            if f[j] + 1 - f[i] >= min_frames:
                out.append((vid, int(tid), seg_id, int(f[i]), int(f[j] + 1)))
                seg_id += 1
            i = j + 1
    return sorted(out)


def check_outputs(out_dir: str) -> dict:
    """Untimed output checks of one batch; returns facts + problems."""
    import pandas as pd

    scores = pd.read_parquet(os.path.join(out_dir, "scores"))
    segs = pd.read_parquet(os.path.join(out_dir, "segments")).sort_values(
        ["video_id", "track_id", "seg_id"]
    )
    with open(os.path.join(out_dir, "summary.json")) as f:
        meta = json.load(f)
    summary = meta["rows"]
    mdir = os.path.join(out_dir, "manifests")
    manifests = sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []
    problems = []
    n_tracks = scores.groupby(["video_id", "track_id"]).ngroups
    if n_tracks < 1:
        problems.append("no tracks")
    if len(segs) < 1:
        problems.append("no segments")
    if not (segs.start_frame < segs.end_frame).all():
        problems.append("start_frame >= end_frame")
    if not (segs.start_ts == segs.start_frame / corpus.FPS).all():
        problems.append("start_ts != start_frame / fps")
    want = sorted(
        f"{r.video_id}_t{r.track_id:05d}_s{r.seg_id:05d}.json" for r in segs.itertuples()
    )
    if manifests != want:
        problems.append(f"{len(manifests)} manifests for {len(segs)} segments")
    per_track = segs.groupby(["video_id", "track_id"]).size()
    got = {(r["video_id"], r["track_id"]): r["n_segments"] for r in summary}
    if got != {k: int(v) for k, v in per_track.items()}:
        problems.append("summary rows do not match segments per (video, track)")
    rows = [
        (r.video_id, int(r.track_id), int(r.seg_id), int(r.start_frame), int(r.end_frame))
        for r in segs.itertuples()
    ]
    if rows != reference_segments(
        scores, meta["threshold"], int(MIN_DURATION_S * corpus.FPS)
    ):
        problems.append("segments differ from the run-length reference")
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return {
        "tracks": n_tracks,
        "scored_rows": len(scores),
        "segments": len(segs),
        "digest": digest,
        "problems": problems,
    }


def check_digest_history(path: str, seed: int, digest: str) -> str | None:
    """The segment digest of a seed must be the same in every run: the
    first run with a seed records it in ``path``, later runs compare
    against it. Returns a problem, or None."""
    history = {}
    if os.path.exists(path):
        with open(path) as f:
            history = json.load(f)
    want = history.setdefault(str(seed), digest)
    if want != digest:
        return f"segment digest {digest} differs from {want} of an earlier run with seed {seed}"
    with open(path, "w") as f:
        json.dump(history, f)
    return None


class Workload:
    name = "asd_mjpeg"

    def setup_data(self, work: str, seed: int, rep: int) -> None:
        self.corpus_dir = os.path.join(work, f"corpus{rep}")
        corpus.write_corpus(self.corpus_dir, seed, N_VIDEOS, N_FRAMES)

    def check(self) -> dict:
        """Outputs are checked per batch, inside ``measure``."""
        return {}

    def warm_up(self, spark) -> None:
        from talknet_segmentation_batchprocessing_spark.deploy import (
            ensure_worker_imports,
        )
        from talknet_segmentation_batchprocessing_spark.operators import s3fd_net
        from talknet_segmentation_batchprocessing_spark.operators.inference import (
            broadcast_weights,
        )

        buf = io.BytesIO()
        np.savez(buf, **s3fd_net.init_weights(DETECTOR_SEED))
        self.weights = buf.getvalue()
        self.weights_bc = broadcast_weights(spark, self.weights)
        # start the Python workers and ship the package once
        ensure_worker_imports(spark)
        n = spark.sparkContext.defaultParallelism
        spark.range(n, numPartitions=n).mapInPandas(
            lambda it: (p for p in it), "id long"
        ).write.format("noop").mode("overwrite").save()
        # one untimed batch with the engine's stand-in scorer in place of
        # TalkNet: a first batch pays ~7 s of one-off JVM and driver costs
        # (class loading, code generation, the parquet writers)
        plug = Plugins()
        plug.scorer = None
        warm_dir = os.path.join(os.path.dirname(self.corpus_dir), "warm")
        run_pipeline(
            spark, self.corpus_dir, warm_dir, self.weights_bc, plug, Tracer("warm", enabled=False)
        )

    def _op(self, spark, work: str, k: int, weights_bc, plug: Plugins,
            tracer: Tracer) -> tuple[float, dict]:
        out_dir = os.path.join(work, f"out{k}")
        t0 = time.perf_counter()
        with tracer.span("pipeline"):
            run_pipeline(spark, self.corpus_dir, out_dir, weights_bc, plug, tracer)
        wall = time.perf_counter() - t0
        return wall, check_outputs(out_dir)

    def measure(self, spark, work: str, seconds: float, seed: int, trace: bool, run_id: str) -> dict:
        cores = spark.sparkContext.defaultParallelism
        untraced = Tracer(run_id, enabled=False)
        walls, checks, errors = [], [], []
        # a fixed number of batches per --seconds, not a clock-driven
        # count: a slow host must not measure less work than a fast one
        n_batches = 1 if trace else max(1, round(seconds / NOMINAL_BATCH_S))
        for k in range(n_batches):
            try:
                wall, chk = self._op(spark, work, k, self.weights_bc, Plugins(), untraced)
                walls.append(wall)
                checks.append(chk)
            except Exception as exc:  # a failed batch is recorded, the run goes on
                errors.append(f"batch {k}: {type(exc).__name__}: {exc}"[:400])
        rec = {"walls": walls, "checks": checks, "errors": errors, "attempted": n_batches}
        if checks:
            rec["digest_history"] = check_digest_history(
                os.path.join(os.path.dirname(work), "asd_digests.json"), seed, checks[0]["digest"]
            )
        if not trace:
            return rec

        from talknet_segmentation_batchprocessing_spark.operators.inference import (
            broadcast_weights,
        )

        counters = Counters(spark.sparkContext)
        tracer = Tracer(run_id)
        jobs = JobStats(spark.sparkContext)
        # a broadcast of its own: Python workers cache the detector by
        # broadcast, and would otherwise reuse the untraced one
        weights_bc = broadcast_weights(spark, self.weights)
        spark.sparkContext.setJobGroup(f"{run_id}-traced", "asd traced batch")
        try:
            with udf_timing(counters, tracer.current):
                wall, chk = self._op(spark, work, n_batches, weights_bc, Plugins(counters), tracer)
            c = counters.values()
            frames = N_VIDEOS * N_FRAMES
            if c["detect.builder_calls"] < 1 or c["detect.forward_calls"] < frames:
                chk["problems"].append(
                    f"traced detector ran {c['detect.forward_calls']:.0f} times for "
                    f"{frames} frames ({c['detect.builder_calls']:.0f} builds)"
                )
            if c["score.builder_calls"] < 1 or c["score.forward_calls"] < 1:
                chk["problems"].append("traced scorer was not called")
            rec["checks"].append(chk)
        except Exception as exc:
            rec["errors"].append(f"traced batch: {type(exc).__name__}: {exc}"[:400])
            rec["attempted"] += 1
            return rec
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["attempted"] += 1
        self_t = tracer.self_time_by_name()
        rec.update(traced_wall=wall, counters=c, spans=tracer.dump(), jobs=jobs.count(f"{run_id}-traced"))
        plugin_s = c["ingest.decode_s"] + c["detect.forward_s"] + c["score.forward_s"]
        udf_s = sum(v for k, v in c.items() if k.startswith("udf.") and k.endswith(".s"))
        udf_rows = sum(v for k, v in c.items() if k.startswith("udf.") and k.endswith(".rows"))
        build_s = self_t.get("build", 0.0) + sum(self_t.get(s, 0.0) for s in STAGES)
        plan_s = self_t.get("plan", 0.0)
        rec["per_layer"] = {
            "op.build_s": build_s,
            "op.plan_s": plan_s,
            "op.exec_s": wall - build_s - plan_s,
            "udf.busy_s": udf_s,
            "udf.rows": udf_rows,
            "spark.jobs": rec["jobs"]["jobs"],
            "spark.stages": rec["jobs"]["stages"],
            "spark.tasks": rec["jobs"]["tasks"],
            "asd.core_util": plugin_s / (wall * cores),
            "ingest.decode_calls": c["ingest.decode_calls"],
            "ingest.decodes_per_video": c["ingest.decode_calls"] / N_VIDEOS,
            "ingest.decode_s": c["ingest.decode_s"],
            "detect.forward_calls": c["detect.forward_calls"],
            "detect.forward_s": c["detect.forward_s"],
            "detect.rows": c.get("udf.detect.rows", 0.0),
            "score.forward_calls": c["score.forward_calls"],
            "score.forward_s": c["score.forward_s"],
            "score.frames_scored": c["score.frames_scored"],
            "score.forward_frames_per_frame": c["score.frames_scored"] / max(chk["scored_rows"], 1),
            "score.builder_calls": c["score.builder_calls"],
            "scenes.s": c.get("udf.scenes.s", 0.0),
            "track.s": c.get("udf.track.s", 0.0),
            "track.tracks": chk["tracks"],
            "track.kept_ratio": chk["scored_rows"] / max(c.get("udf.detect.rows", 0.0), 1.0),
            "featurize.s": c.get("udf.featurize.s", 0.0),
            # rows the featurize UDF produced, every time it ran
            "featurize.rows": c.get("udf.featurize.rows", 0.0),
            "segment.s": self_t.get("segment", 0.0),
            "segment.rows": chk["segments"],
            "sink.s": self_t.get("sink", 0.0),
            "sink.files": c["sink.files"],
        }
        rec["layer_seconds"] = {
            "score.builder_s": c["score.builder_s"],
            "detect.builder_s": c["detect.builder_s"],
            **{f"udf.{s}.s": c.get(f"udf.{s}.s", 0.0) for s in STAGES},
            "summary.s": self_t.get("summary", 0.0),
        }
        return rec
