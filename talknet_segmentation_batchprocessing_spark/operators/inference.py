"""M1/M3/M4: NN-inference operator shells.

The reference runs S3FD face detection per frame
(model/faceDetector/s3fd/__init__.py:17-66, demoTalkNet.py:112-129)
and TalkNet audio-visual scoring per track
(demoTalkNet.py:225-272) on a GPU. This container has no torch, so
the model forward is pluggable: the Spark side — Arrow batching, model
lifecycle (load once per executor process from broadcast state),
UDTF-shaped fan-out (1 frame -> N detections), per-track clip loop with
the duration ensemble — is real and tested with deterministic fake
models.

Production: ``model_fn`` deserializes broadcast weights into torch
once per worker (guarded by a module-level cache), exactly like the
reference loads ``pretrain_TalkNet.model`` once per process
(talkNet.py:130-147, M4).

A task runs its independent forwards (the frames of an Arrow batch,
the tracks of a partition) on a thread pool over that one model:
numpy releases the GIL inside BLAS and its copy loops, so the
forwards of one task use the worker's cores without a second copy of
the weights. Plug-ins are therefore called from several threads at
once and must be functions of their inputs over read-only weights.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import weakref
from collections import deque
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

DETECTIONS_SCHEMA = (
    "video_id string, frame_idx int, det_id int, "
    "x1 double, y1 double, x2 double, y2 double, conf double"
)
SCORES_SCHEMA = "video_id string, track_id int, frame_idx int, score double"

# One model instance per executor *process* (the reference's single
# in-process model, demoTalkNet.py:227-230), with a weak reference to the
# broadcast it was built from, matched by identity. A worker drops each
# broadcast its current task does not use, and a later broadcast may
# reuse the freed address, so an id() key could serve stale weights; a
# strong reference would pin the dropped broadcast's bytes instead.
_MODEL_CACHE: dict[str, object] = {}


def _executor_model(model_bc, builder: Callable[[object], object]):
    if model_bc is None:
        # no broadcast state -> cheap builder (a fake); don't cache —
        # every operator without a broadcast would share one entry
        return builder(None)
    ref = _MODEL_CACHE.get("bc")
    if ref is None or ref() is not model_bc:
        _MODEL_CACHE.clear()  # at most one resident model per process
        _MODEL_CACHE.update(bc=weakref.ref(model_bc), model=builder(model_bc.value))
    return _MODEL_CACHE["model"]


def _forward_threads(cores: int) -> int:
    """Threads of the pool a task runs its independent forwards on: the
    cores the session had when the operator built its plan, capped by
    the CPUs this worker may run on. A ``ThreadPoolExecutor`` starts a
    thread only when none is idle, so it never runs more than its items.

    glibc gives each pool thread its own malloc arena and, once a large
    numpy temporary is freed, raises its mmap threshold to that size:
    from then on every thread's freed activations stay resident for the
    life of the worker. Pinning the threshold at glibc's default keeps
    large arrays mmapped, so a freed one goes back to the OS."""
    try:
        mallopt = ctypes.CDLL(None).mallopt
    except (OSError, AttributeError):
        pass  # not glibc
    else:
        mallopt.argtypes, mallopt.restype = [ctypes.c_int, ctypes.c_int], ctypes.c_int
        mallopt(-3, 128 * 1024)  # M_MMAP_THRESHOLD, glibc's default value
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return max(1, min(cores, cpus or 1))


def _fake_actors(video_id: str, frame_idx: int):
    """The seeded actors of a fake detection: 1..3 per video, each a
    30x30 box drifting smoothly with ``frame_idx`` (high
    consecutive-frame IoU) with a confidence in [0.85, 1.0) per (video,
    frame, actor). Yields ``(actor, arng, (x1, y1, x2, y2), conf)``;
    ``arng`` is the actor's own stream, past its box and phase draws."""
    vseed = int.from_bytes(hashlib.sha256(video_id.encode()).digest()[:4], "big")
    vrng = np.random.RandomState(vseed)
    for a in range(int(vrng.randint(1, 4))):
        arng = np.random.RandomState(vseed + 7919 * (a + 1))
        bx, by = arng.uniform(20, 150, size=2)
        phase = arng.uniform(0, 2 * np.pi)
        cx = bx + 10.0 * np.sin(frame_idx / 20.0 + phase)
        cy = by + 10.0 * np.cos(frame_idx / 25.0 + phase)
        cseed = int.from_bytes(
            hashlib.sha256(f"{video_id}:{frame_idx}:{a}".encode()).digest()[:4], "big"
        )
        yield a, arng, (cx - 15, cy - 15, cx + 15, cy + 15), 0.85 + (cseed / 2**32) * 0.15


def fake_face_detector():
    """Deterministic stand-in for S3FD, temporally coherent: the
    ``_fake_actors`` boxes, so greedy tracking (J6) links them like real
    faces, and the F1 conf>0.9 filter is exercised."""

    def detect(video_id: str, frame_idx: int, image: bytes | None):
        return [
            (a, float(x1), float(y1), float(x2), float(y2), float(conf))
            for a, _, (x1, y1, x2, y2), conf in _fake_actors(video_id, frame_idx)
        ]

    return detect


def fake_s3fd_forward(input_size: tuple[int, int] = (270, 480)):
    """Deterministic stand-in for ONLY the S3FD convolutional forward
    (reference nets.py:28-174): emits (loc, conf) head tensors that
    regress one prior per actor, drawn from the actor's stream, exactly
    onto the ``_fake_actors`` boxes of ``fake_face_detector`` — so the
    REAL post-processing (priors, decode, two-stage NMS in s3fd_post.py)
    runs end-to-end on them.
    """
    from .s3fd_post import encode, prior_boxes

    h, w = input_size
    priors = prior_boxes((h, w))
    n_priors = priors.shape[0]

    def forward(image, meta):
        video_id, frame_idx = meta
        loc = np.zeros((1, n_priors, 4))
        conf = np.zeros((1, n_priors, 2))
        conf[0, :, 0] = 1.0
        for _, arng, (x1, y1, x2, y2), score in _fake_actors(video_id, frame_idx):
            box = np.array([[x1 / w, y1 / h, x2 / w, y2 / h]])
            pi = int(arng.randint(0, n_priors))
            loc[0, pi] = encode(box, priors[pi : pi + 1])
            conf[0, pi, 1] = score
            conf[0, pi, 0] = 1.0 - score
        return loc, conf

    return forward


def s3fd_detector(
    forward_fn: Callable = None,
    input_size: tuple[int, int] = (270, 480),
    conf_th: float = 0.8,
):
    """M1 detector with REAL post-processing: anchor priors, center-offset
    box decode, per-class sorted NMS, conf_th walk, and the final
    cross-scale greedy NMS (operators/s3fd_post.py, property-tested) —
    semantically the reference's S3FD.detect_faces
    (model/faceDetector/s3fd/__init__.py:32-66). The conv forward is
    pluggable: ``s3fd_net.s3fd_forward_fn(weights)`` supplies the real
    numpy VGG16 trunk (returns ``(loc, conf, feature_maps)`` so priors
    follow the net's floor-pooled grids); the default remains the
    deterministic fake head generator (no checkpoint in the image).

    ``input_size`` is the net input (h, w) — the reference feeds the
    facedetScale=0.25-downscaled frame (demoTalkNet.py:34,121).

    ``detect_faces`` calls ``forward_fn`` from up to one thread per
    core of a task at once, so it must be a function of its inputs over
    read-only weights, as ``s3fd_net.s3fd_forward_fn`` is.
    """
    from .s3fd_post import detect_faces_from_heads

    fwd = forward_fn or fake_s3fd_forward(input_size)

    def _post(loc, conf, feature_maps=None):
        boxes = detect_faces_from_heads(
            loc, conf, input_size, conf_th=conf_th, feature_maps=feature_maps
        )  # (n, 5) [x1, y1, x2, y2, score], score-descending
        return [
            (d, float(b[0]), float(b[1]), float(b[2]), float(b[3]), float(b[4]))
            for d, b in enumerate(boxes)
        ]

    def detect(video_id: str, frame_idx: int, image):
        # a real conv forward (s3fd_net.forward) returns a third
        # element: the actual head grid sizes the priors follow
        return _post(*fwd(image, (video_id, frame_idx)))

    return detect


def detect_faces(
    frames: DataFrame,
    model_bc=None,
    model_builder: Callable = None,
    conf_th: float = 0.9,
) -> DataFrame:
    """M1: frames -> detections, UDTF-shaped (one frame row fans out to
    N detection rows), via ``mapInPandas``; the confidence filter (F1,
    demoTalkNet.py:121 conf_th) applies inside the shell so unqualified
    boxes never hit the shuffle.

    The per-frame forwards of a batch run on the task's thread pool
    over the task's one model, so the detector is called from up to
    ``min(cores, worker CPUs, frames)`` threads at once and must be a
    function of its inputs over read-only weights.
    """
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(frames)
    builder = model_builder or (lambda _state: fake_face_detector())
    cores = frames.sparkSession.sparkContext.defaultParallelism

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _executor_model(model_bc, builder)
        with ThreadPoolExecutor(_forward_threads(cores)) as pool:
            for pdf in batches:
                vids = pdf["video_id"].tolist()
                fidx = [int(f) for f in pdf["frame_idx"]]
                imgs = (
                    pdf["image"].tolist() if "image" in pdf.columns else [None] * len(pdf)
                )
                dets = pool.map(model, vids, fidx, imgs)
                rows = [
                    (vid, f, d, x1, y1, x2, y2, conf)
                    for vid, f, frame_dets in zip(vids, fidx, dets)
                    for d, x1, y1, x2, y2, conf in frame_dets
                    if conf > conf_th
                ]
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "video_id", "frame_idx", "det_id",
                        "x1", "y1", "x2", "y2", "conf",
                    ],
                )

    cols = [c for c in ("video_id", "frame_idx", "image") if c in frames.columns]
    return frames.select(*cols).mapInPandas(fn, DETECTIONS_SCHEMA)


def fake_scorer():
    """Deterministic TalkNet stand-in: per-frame logit from
    sha256(video_id, track_id, frame_idx, duration), centered at 0."""

    def score(video_id: str, track_id: int, frame_idx: np.ndarray, duration: int):
        out = np.empty(len(frame_idx), dtype=np.float64)
        for i, f in enumerate(frame_idx):
            seed = int.from_bytes(
                hashlib.sha256(
                    f"{video_id}:{track_id}:{int(f)}:{duration}".encode()
                ).digest()[:4],
                "big",
            )
            out[i] = (seed / 2**32) * 4.0 - 2.0
        return out

    return score


DURATION_SET = [1, 2, 3, 4, 5, 6]  # collapsed set literal, demoTalkNet.py:233-234


def score_tracks(
    track_features: DataFrame,
    model_bc=None,
    model_builder: Callable = None,
    durations: list[int] = DURATION_SET,
    fps: float = 25.0,
) -> DataFrame:
    """M3: per-track ASD scoring with the duration ensemble.

    The reference scores one whole track at a time
    (demoTalkNet.py:235-272): for each ensemble duration the track is
    scored in clips of duration*fps frames (W9), then per-frame scores
    are averaged over the ensemble and rounded to 1 decimal (A1, X14).

    The rows are hash-partitioned by (video_id, track_id) and sorted
    by (video_id, track_id, frame_idx) within a partition, so each
    track's rows arrive contiguous in ``mapInPandas``'s Arrow batches;
    a track that spans batches is stitched back into one group. The
    task builds its model once and scores its tracks on a thread pool
    over it, with at most ``min(cores, worker CPUs)`` tracks in flight,
    yielding their scores in order.

    Scorers built with ``needs_features = True`` (the real numpy
    TalkNet forward, operators/talknet_forward.py) additionally
    receive the clip's feature tensors, assembled from the track's
    ``mfcc`` (flattened [4,13] per frame — 100 Hz MFCC vs 25 fps, X5)
    and ``face`` (flattened [112,112] grayscale crop, X4) columns —
    the same per-clip A/V slicing as demoTalkNet.py:260-262.

    Such a scorer must be a function of its clip tensors only: two
    durations that cut the same clip (every duration once the track is
    shorter than the clip) share one model call, so the ensemble runs
    one forward per distinct clip. Other scorers may depend on the
    duration (``fake_scorer`` hashes it) and are called once per
    (duration, clip). Every scorer is called from several threads of
    a task at once, so it must be a function of its inputs over
    read-only weights.
    """
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(track_features)
    builder = model_builder or (lambda _state: fake_scorer())
    cores = track_features.sparkSession.sparkContext.defaultParallelism
    keys = ["video_id", "track_id"]

    def score_track(model, pdf: pd.DataFrame) -> pd.DataFrame:
        needs_features = getattr(model, "needs_features", False)
        video_id = pdf["video_id"].iloc[0]
        track_id = int(pdf["track_id"].iloc[0])
        p = pdf.sort_values("frame_idx")
        frames = p["frame_idx"].to_numpy()
        if needs_features:
            mfcc = np.vstack(
                [np.asarray(v, dtype=np.float64).reshape(-1, 13) for v in p["mfcc"]]
            )
            faces = np.stack(
                [np.asarray(v, dtype=np.float64).reshape(112, 112) for v in p["face"]]
            )
        outputs = {}  # clip key -> model output, for this track
        acc = np.zeros(len(frames), dtype=np.float64)
        for dur in durations:
            clip = max(int(dur * fps), 1)
            for s in range(0, len(frames), clip):  # W9 tumbling clips
                e = min(s + clip, len(frames))
                key = (s, e) if needs_features else (s, e, dur)
                if key not in outputs:
                    idx = frames[s:e]
                    if needs_features:
                        outputs[key] = model(
                            video_id,
                            track_id,
                            idx,
                            dur,
                            audio=mfcc[s * 4 : e * 4],
                            video=faces[s:e],
                        )
                    else:
                        outputs[key] = model(video_id, track_id, idx, dur)
                acc[s:e] += outputs[key]
        mean = acc / len(durations)
        # reference: round(float(s), 1) — banker's (python round)
        scores = np.array([round(float(v), 1) for v in mean])
        return pd.DataFrame(
            {
                "video_id": video_id,
                "track_id": track_id,
                "frame_idx": frames.astype("int32"),
                "score": scores,
            }
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _executor_model(model_bc, builder)
        n = _forward_threads(cores)
        with ThreadPoolExecutor(n) as pool:
            in_flight = deque()
            for group in _key_groups(batches, keys):
                in_flight.append(pool.submit(score_track, model, group))
                if len(in_flight) == n:
                    yield in_flight.popleft().result()
            while in_flight:
                yield in_flight.popleft().result()

    return (
        track_features.repartition(*keys)
        .sortWithinPartitions(*keys, "frame_idx")
        .mapInPandas(fn, SCORES_SCHEMA)
    )


def _key_groups(batches: Iterator[pd.DataFrame], keys: list[str]) -> Iterator[pd.DataFrame]:
    """The rows of each key of key-sorted ``batches`` as one frame, in
    order; a key whose rows span batches is stitched into one group."""

    def same(a, b):
        return all(x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b))

    held, held_key = [], None
    for pdf in batches:
        for key, g in pdf.groupby(keys, sort=False, dropna=False):
            if held and not same(key, held_key):
                yield pd.concat(held)
                held = []
            held.append(g)
            held_key = key
    if held:
        yield pd.concat(held)


def broadcast_weights(spark, state: bytes):
    """M4: ship model weights once per job; executors deserialize once
    per process via ``_executor_model`` (the reference's checkpoint
    load + ``module.`` key remap lives in the model_builder)."""
    return spark.sparkContext.broadcast(state)
