"""M3 real-forward tests: the numpy TalkNet implementation
(operators/talknet_forward.py) — primitive kernels pinned against naive
reference loops, end-to-end forward shape/determinism, and the Spark
``score_tracks`` shell driving the real forward with feature columns.

No torch exists in this container, so parity with the reference's
learned weights cannot be asserted; what IS asserted is that every
primitive matches its mathematical definition and that the
architecture wiring (shapes, stride plan, 100 Hz -> 25 fps collapse)
matches the reference layer list (model/talkNetModel.py,
audioEncoder.py, visualEncoder.py, attentionLayer.py, loss.py).
"""

from __future__ import annotations

import numpy as np
import pytest

from talknet_segmentation_batchprocessing_spark.operators import talknet_forward as tf


def naive_conv2d(x, w, stride, pad):
    sh, sw = stride
    B, C, H, W = x.shape
    O, _, kh, kw = w.shape
    xp = np.pad(x, ((0, 0), (0, 0), (pad, pad), (pad, pad)))
    Ho = (xp.shape[2] - kh) // sh + 1
    Wo = (xp.shape[3] - kw) // sw + 1
    out = np.zeros((B, O, Ho, Wo))
    for b in range(B):
        for o in range(O):
            for i in range(Ho):
                for j in range(Wo):
                    patch = xp[b, :, i * sh : i * sh + kh, j * sw : j * sw + kw]
                    out[b, o, i, j] = (patch * w[o]).sum()
    return out


def test_conv2d_matches_naive():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((2, 3, 9, 11))
    w = rng.standard_normal((4, 3, 3, 3))
    for stride, pad in [((1, 1), 1), ((2, 2), 1), ((2, 1), 0)]:
        got = tf.conv2d(x, w, stride=stride, pad=pad)
        want = naive_conv2d(x, w, stride, pad) if pad else naive_conv2d(x, w, stride, 0)
        np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)


def test_conv3d_matches_naive():
    rng = np.random.default_rng(1)
    x = rng.standard_normal((1, 2, 4, 6, 6))
    w = rng.standard_normal((3, 2, 3, 3, 3))
    got = tf.conv3d(x, w, stride=(1, 2, 2), pad=(1, 1, 1))
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1), (1, 1), (1, 1)))
    Do, Ho, Wo = got.shape[2:]
    want = np.zeros_like(got)
    for o in range(3):
        for d in range(Do):
            for i in range(Ho):
                for j in range(Wo):
                    patch = xp[0, :, d : d + 3, i * 2 : i * 2 + 3, j * 2 : j * 2 + 3]
                    want[0, o, d, i, j] = (patch * w[o]).sum()
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)


def test_depthwise_conv1d_matches_naive():
    rng = np.random.default_rng(2)
    x = rng.standard_normal((1, 5, 8))
    w = rng.standard_normal((5, 1, 3))
    got = tf.conv1d(x, w, pad=1, groups=5)
    xp = np.pad(x, ((0, 0), (0, 0), (1, 1)))
    want = np.zeros((1, 5, 8))
    for c in range(5):
        for t in range(8):
            want[0, c, t] = (xp[0, c, t : t + 3] * w[c, 0]).sum()
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-10)


def test_maxpool_and_avgpool():
    rng = np.random.default_rng(3)
    x = rng.standard_normal((1, 2, 3, 6, 6))
    got = tf.maxpool3d(x)  # k(1,3,3) s(1,2,2) p(0,1,1)
    assert got.shape == (1, 2, 3, 3, 3)
    # corner window of the padded input
    assert got[0, 0, 0, 0, 0] == x[0, 0, 0, :2, :2].max()
    a = rng.standard_normal((1, 1, 4, 4))
    np.testing.assert_allclose(tf.avgpool2d(a, (4, 4))[0, 0, 0, 0], a.mean())


def test_batchnorm_layernorm_semantics():
    rng = np.random.default_rng(4)
    x = rng.standard_normal((2, 3, 5))
    g, b = np.array([1.0, 2.0, 3.0]), np.array([0.5, 0.0, -0.5])
    mean, var = np.zeros(3), np.ones(3)
    got = tf.batchnorm(x, g, b, mean, var, eps=0.0)
    np.testing.assert_allclose(got, x * g.reshape(1, 3, 1) + b.reshape(1, 3, 1))
    y = rng.standard_normal((4, 8))
    ln = tf.layer_norm(y, np.ones(8), np.zeros(8))
    np.testing.assert_allclose(ln.mean(axis=-1), 0.0, atol=1e-12)
    np.testing.assert_allclose(ln.std(axis=-1), 1.0, atol=1e-3)


def test_multihead_attention_properties():
    rng = np.random.default_rng(5)
    d, nh, T = 16, 4, 6
    wqkv = rng.standard_normal((3 * d, d)) * 0.2
    bqkv = np.zeros(3 * d)
    wo = np.eye(d)
    bo = np.zeros(d)
    x = rng.standard_normal((T, d))
    out = tf.multihead_attention(x, x, x, wqkv, bqkv, wo, bo, nh)
    assert out.shape == (T, d)
    # identical keys/values for every query -> every output row equal
    same = np.tile(x[:1], (T, 1))
    out2 = tf.multihead_attention(x, same, same, wqkv, bqkv, wo, bo, nh)
    v_proj = same @ wqkv[2 * d :].T
    np.testing.assert_allclose(out2, np.tile(v_proj[:1], (T, 1)), atol=1e-10)


def test_audio_frontend_time_resample():
    """100 Hz MFCC in, 25 Hz embeddings out — the two stride-2 layers
    (audioEncoder.py:64-66) are the 4x time collapse."""
    w = tf.init_weights(seed=1)
    out = tf.forward_audio_frontend(w, np.random.default_rng(0).standard_normal((40, 13)))
    assert out.shape == (10, 128)
    assert np.isfinite(out).all()


def test_visual_frontend_shape():
    w = tf.init_weights(seed=1)
    frames = np.random.default_rng(1).integers(0, 256, size=(3, 112, 112))
    out = tf.forward_visual_frontend(w, frames)
    assert out.shape == (3, 128)
    assert np.isfinite(out).all()


def test_talknet_forward_end_to_end_deterministic():
    w = tf.init_weights(seed=7)
    rng = np.random.default_rng(2)
    mfcc = rng.standard_normal((12, 13))
    frames = rng.integers(0, 256, size=(3, 112, 112))
    s1 = tf.talknet_forward(w, mfcc, frames)
    s2 = tf.talknet_forward(w, mfcc, frames)
    assert s1.shape == (3,)
    np.testing.assert_array_equal(s1, s2)
    assert np.isfinite(s1).all()
    # different inputs move the score
    s3 = tf.talknet_forward(w, mfcc + 1.0, frames)
    assert not np.allclose(s1, s3)


def test_state_dict_names_are_torch_shaped():
    """Checkpoint-parity contract (M4, talkNet.py:130-147): keys follow
    torch state_dict naming so an exported checkpoint drops in."""
    w = tf.init_weights()
    for probe in [
        "audioEncoder.conv1.weight",
        "audioEncoder.layer2.0.downsample.0.weight",
        "audioEncoder.layer1.2.se.fc.2.bias",
        "visualFrontend.frontend3D.0.weight",
        "visualFrontend.resnet.layer4.conv2b.weight",
        "visualTCN.net.4.net.2.weight",
        "visualConv1D.net.3.bias",
        "crossA2V.self_attn.in_proj_weight",
        "selfAV.linear2.weight",
        "lossAV.FC.weight",
    ]:
        assert probe in w, probe
    # audio SE-ResNet34 block count: 3+4+6+3
    n_blocks = len({k.split(".")[2] for k in w if k.startswith("audioEncoder.layer")})
    assert sum(1 for k in w if ".se.fc.0.weight" in k) == 3 + 4 + 6 + 3


def test_score_tracks_with_real_forward(spark):
    """The Spark M3 shell end-to-end with the REAL forward: feature
    columns in, per-frame rounded ensemble scores out."""
    import pandas as pd

    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )

    rng = np.random.default_rng(9)
    rows = []
    for f in range(10):
        rows.append(
            {
                "video_id": "vid0",
                "track_id": 0,
                "frame_idx": f,
                "mfcc": rng.standard_normal(4 * 13).tolist(),
                "face": rng.integers(0, 256, size=112 * 112).astype(float).tolist(),
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = score_tracks(
        df, model_builder=lambda _state: talknet_scorer(seed=3), durations=[1]
    ).toPandas()
    assert len(out) == 10
    assert sorted(out.frame_idx) == list(range(10))
    assert np.isfinite(out.score).all()
    # rounded to 1 decimal (X14)
    assert all(abs(v * 10 - round(v * 10)) < 1e-9 for v in out.score)
    out2 = score_tracks(
        df, model_builder=lambda _state: talknet_scorer(seed=3), durations=[1]
    ).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("frame_idx").reset_index(drop=True),
        out2.sort_values("frame_idx").reset_index(drop=True),
    )


def test_broadcast_weights_roundtrip(spark):
    """M4 with the real model: pickled state_dict broadcast once,
    deserialized per executor (talkNet.py:130-147 checkpoint load ->
    broadcast), scores identical to a locally-built scorer."""
    import pickle

    import pandas as pd

    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        broadcast_weights,
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )

    rng = np.random.default_rng(21)
    rows = [
        {
            "video_id": "v",
            "track_id": 0,
            "frame_idx": f,
            "mfcc": rng.standard_normal(52).tolist(),
            "face": rng.integers(0, 256, size=112 * 112).astype(float).tolist(),
        }
        for f in range(6)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    state = pickle.dumps(tf.init_weights(seed=5))
    bc = broadcast_weights(spark, state)
    via_bc = score_tracks(
        df,
        model_bc=bc,
        model_builder=lambda s: talknet_scorer(weights=pickle.loads(s)),
        durations=[1],
    ).toPandas()
    local = score_tracks(
        df, model_builder=lambda _s: talknet_scorer(seed=5), durations=[1]
    ).toPandas()
    pd.testing.assert_frame_equal(
        via_bc.sort_values("frame_idx").reset_index(drop=True),
        local.sort_values("frame_idx").reset_index(drop=True),
    )


def test_score_tracks_forwards_each_distinct_clip_once(spark):
    """Full duration ensemble on one 60-frame track at 25 fps: the nine
    (duration, clip) pairs cut five distinct clips, so a feature-aware
    scorer runs five times, and the scores equal a plain loop that runs
    the forward for every pair."""
    import pandas as pd

    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        DURATION_SET,
        score_tracks,
    )
    from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
        talknet_scorer,
    )

    rng = np.random.default_rng(17)
    n = 60
    pdf = pd.DataFrame(
        {
            "video_id": "v",
            "track_id": 0,
            "frame_idx": np.arange(n),
            "mfcc": [rng.standard_normal(4 * 13).tolist() for _ in range(n)],
            "face": [
                rng.integers(0, 256, size=112 * 112).astype(float).tolist()
                for _ in range(n)
            ],
        }
    )
    calls = spark.sparkContext.accumulator(0)

    def build(_state):
        score = talknet_scorer(seed=3)

        def counted(*args, **kwargs):
            calls.add(1)
            return score(*args, **kwargs)

        counted.needs_features = True
        return counted

    out = score_tracks(spark.createDataFrame(pdf), model_builder=build).toPandas()
    assert calls.value == 5

    w = tf.init_weights(seed=3)
    audio = np.vstack([np.reshape(m, (4, 13)) for m in pdf.mfcc])
    video = np.stack([np.reshape(f, (112, 112)) for f in pdf.face])
    acc = np.zeros(n)
    for dur in DURATION_SET:
        clip = dur * 25
        for s in range(0, n, clip):
            acc[s : s + clip] += tf.talknet_forward(
                w, audio[s * 4 : (s + clip) * 4], video[s : s + clip]
            )
    expected = [round(float(v), 1) for v in acc / len(DURATION_SET)]
    assert out.sort_values("frame_idx").score.tolist() == expected


def test_score_tracks_calls_duration_aware_scorer_per_pair(spark):
    """A scorer without ``needs_features`` may depend on the duration
    (``fake_scorer`` hashes it), so it still gets every (duration, clip)
    pair; the model is built once for all the groups of a task."""
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        DURATION_SET,
        fake_scorer,
        score_tracks,
    )

    calls = spark.sparkContext.accumulator(0)
    builds = spark.sparkContext.accumulator(0)

    def build(_state):
        builds.add(1)
        score = fake_scorer()

        def counted(*args):
            calls.add(1)
            return score(*args)

        return counted

    df = spark.createDataFrame(
        [("v", t, f) for t in (0, 1, 2) for f in range(60)],
        "video_id string, track_id int, frame_idx int",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        out = score_tracks(df, model_builder=build).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert calls.value == 3 * 9
    assert builds.value == 1

    score = fake_scorer()
    frames = np.arange(60)
    for t in (0, 1, 2):
        acc = np.zeros(60)
        for dur in DURATION_SET:
            clip = dur * 25
            for s in range(0, 60, clip):
                acc[s : s + clip] += score("v", t, frames[s : s + clip], dur)
        got = out[out.track_id == t].sort_values("frame_idx").score.tolist()
        assert got == [round(float(v), 1) for v in acc / len(DURATION_SET)]


def _two_cores(spark):
    import os

    if spark.sparkContext.defaultParallelism < 2 or len(os.sched_getaffinity(0)) < 2:
        pytest.skip("the forward pool needs two cores")


def test_score_tracks_scores_tracks_of_one_task_at_once(spark):
    """Two tracks in one shuffle partition: every scorer call waits at a
    two-party barrier, so the batch only finishes if the task's pool
    scores both tracks at the same time. A serial task breaks the
    barrier after 30 s and fails instead of hanging."""
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        DURATION_SET,
        fake_scorer,
        score_tracks,
    )

    _two_cores(spark)
    calls = spark.sparkContext.accumulator(0)

    def build(_state):
        import threading

        meet = threading.Barrier(2, timeout=30)
        score = fake_scorer()

        def counted(*args):
            meet.wait()
            calls.add(1)
            return score(*args)

        return counted

    df = spark.createDataFrame(
        [("v", t, f) for t in (0, 1) for f in range(60)],
        "video_id string, track_id int, frame_idx int",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        out = score_tracks(df, model_builder=build).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(out) == 120
    assert calls.value == 2 * 9
    want = score_tracks(df, durations=DURATION_SET).toPandas()
    key = ["track_id", "frame_idx"]
    assert out.sort_values(key).score.tolist() == want.sort_values(key).score.tolist()


def test_score_tracks_stitches_tracks_across_arrow_batches(spark):
    """3 tracks x 20 frames, shuffled, in one partition read in Arrow
    batches of 7 rows: every track spans batches, and its scores equal
    a plain per-track loop exactly. The scorer adds the clip length to
    each frame's score, so a track scored in pieces would differ."""
    import random

    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        DURATION_SET,
        fake_scorer,
        score_tracks,
    )

    def clip_scorer():
        score = fake_scorer()
        return lambda v, t, idx, dur: score(v, t, idx, dur) + len(idx) / 8

    rows = [("v", t, f) for t in (0, 1, 2) for f in range(20)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "video_id string, track_id int, frame_idx int")
    conf = {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = score_tracks(df, model_builder=lambda _s: clip_scorer(), fps=4.0).toPandas()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(out) == 60

    score = clip_scorer()
    frames = np.arange(20)
    for t in (0, 1, 2):
        acc = np.zeros(20)
        for dur in DURATION_SET:
            clip = dur * 4
            for s in range(0, 20, clip):
                acc[s : s + clip] += score("v", t, frames[s : s + clip], dur)
        got = out[out.track_id == t].sort_values("frame_idx")
        assert got.frame_idx.tolist() == list(range(20))
        assert got.score.tolist() == [round(float(v), 1) for v in acc / len(DURATION_SET)]


def test_score_tracks_plan_is_one_exchange_and_map_in_pandas(spark):
    """Scoring is a (video_id, track_id) hash exchange, a sort and one
    MapInPandas over the task's pool; no grouped-map stage remains."""
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        score_tracks,
    )

    df = spark.createDataFrame(
        [("v", t, f) for t in (0, 1) for f in range(5)],
        "video_id string, track_id int, frame_idx int",
    )
    plan = score_tracks(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(video_id") == 1
    assert "Exchange hashpartitioning(video_id#" in plan
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan
