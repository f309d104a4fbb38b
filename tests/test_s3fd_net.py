"""operators/s3fd_net.py — the numpy S3FD conv trunk: primitive math
pinned against hand-computed tensors, head-grid sizes pinned against
torch floor-pool arithmetic, and the end-to-end detector shell run on
seeded weights."""

from __future__ import annotations

import numpy as np
import pytest

from talknet_segmentation_batchprocessing_spark.operators.s3fd_net import (
    _EXTRAS,
    _HEAD_CH,
    _VGG_CONVS,
    _VGG_IN,
    forward,
    init_weights,
    l2norm,
    maxpool2d,
    preprocess,
    s3fd_forward_fn,
)
from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import conv2d


def test_conv2d_dilation_hand_computed():
    # 1x1x5x5 ramp, 3x3 kernel of ones, dilation 2, pad 0 -> single
    # output tap = sum of the 9 corner/center values of the 5x5 grid.
    x = np.arange(25, dtype=np.float64).reshape(1, 1, 5, 5)
    w = np.ones((1, 1, 3, 3))
    out = conv2d(x, w, dilation=2)
    assert out.shape == (1, 1, 1, 1)
    taps = x[0, 0][np.ix_([0, 2, 4], [0, 2, 4])]
    assert out[0, 0, 0, 0] == taps.sum()


def test_conv2d_dilation_matches_naive_loop():
    rng = np.random.default_rng(3)
    x = rng.standard_normal((1, 2, 9, 11))
    w = rng.standard_normal((3, 2, 3, 3))
    got = conv2d(x, w, pad=6, dilation=6)
    xp = np.pad(x, ((0, 0), (0, 0), (6, 6), (6, 6)))
    Ho = xp.shape[2] - 12
    Wo = xp.shape[3] - 12
    want = np.zeros((1, 3, Ho, Wo))
    for o in range(3):
        for i in range(Ho):
            for j in range(Wo):
                acc = 0.0
                for c in range(2):
                    for a in range(3):
                        for b in range(3):
                            acc += xp[0, c, i + 6 * a, j + 6 * b] * w[o, c, a, b]
                want[0, o, i, j] = acc
    np.testing.assert_allclose(got, want, atol=1e-10)


def test_maxpool2d_ceil_mode_hand_computed():
    x = np.arange(9, dtype=np.float64).reshape(1, 1, 3, 3)
    # floor mode: single 2x2 window -> max 4
    assert maxpool2d(x).tolist() == [[[[4.0]]]]
    # ceil mode: trailing row/col get -inf-padded windows
    out = maxpool2d(x, ceil_mode=True)
    assert out[0, 0].tolist() == [[4.0, 5.0], [7.0, 8.0]]


def test_l2norm_hand_computed():
    x = np.zeros((1, 2, 1, 1))
    x[0, 0, 0, 0] = 3.0
    x[0, 1, 0, 0] = 4.0
    out = l2norm(x, np.array([10.0, 20.0]))
    np.testing.assert_allclose(out[0, :, 0, 0], [6.0, 16.0], atol=1e-8)


def test_preprocess_channel_arithmetic():
    # the reference's double channel flip nets out to per-channel
    # offsets (c0-123, c1-117, c2-104) in original channel order
    img = np.zeros((2, 3, 3), dtype=np.uint8)
    x = preprocess(img)
    assert x.shape == (1, 3, 2, 3)
    np.testing.assert_allclose(x[0, :, 0, 0], [-123.0, -117.0, -104.0])


def test_architecture_tables_match_reference():
    # nets.py:34-76: 15 convs with the documented channel progression
    assert len(_VGG_CONVS) == len(_VGG_IN) == 15
    outs = [c[1] for c in _VGG_CONVS]
    assert outs == [64, 64, 128, 128, 256, 256, 256, 512, 512, 512,
                    512, 512, 512, 1024, 1024]
    assert _VGG_IN[1:] == outs[:-1] != outs  # chaining
    assert _VGG_CONVS[13][3:] == (6, 6)  # fc6 pad/dilation
    assert [e[0] for e in _EXTRAS] == [256, 512, 128, 256]
    assert _HEAD_CH == [256, 512, 512, 1024, 512, 256]


@pytest.fixture(scope="module")
def w():
    return init_weights(seed=13)


def test_forward_head_grids_floor_pooled(w):
    # 64x96 input: torch floor pooling gives grids that differ from
    # ceil(side/step) — priors must follow the net's actual outputs
    rng = np.random.default_rng(5)
    img = rng.integers(0, 255, size=(64, 96, 3)).astype(np.uint8)
    loc, conf, fmaps = forward(w, img)
    assert fmaps == [(16, 24), (8, 12), (4, 6), (2, 3), (1, 2), (1, 1)]
    P = sum(h * wd for h, wd in fmaps)
    assert loc.shape == (1, P, 4)
    assert conf.shape == (1, P, 2)
    np.testing.assert_allclose(conf.sum(axis=-1), 1.0, atol=1e-9)  # softmaxed
    # deterministic: same weights + image -> identical heads
    loc2, conf2, _ = forward(w, img)
    np.testing.assert_array_equal(loc, loc2)
    np.testing.assert_array_equal(conf, conf2)


def test_forward_ceil_pool_grid(w):
    # 68x68: pool4->34, pool9->17, tap (17,17); ceil pool16 -> 9 (not 8)
    rng = np.random.default_rng(6)
    img = rng.integers(0, 255, size=(68, 68, 3)).astype(np.uint8)
    _loc, _conf, fmaps = forward(w, img)
    assert fmaps[0] == (17, 17)
    assert fmaps[1] == (9, 9)


def test_detector_shell_end_to_end(w):
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        s3fd_detector,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, size=(64, 96, 3)).astype(np.uint8)
    det = s3fd_detector(
        forward_fn=s3fd_forward_fn(w), input_size=(64, 96), conf_th=0.0
    )
    rows = det("vid", 0, img)
    assert isinstance(rows, list)
    for d, x1, y1, x2, y2, score in rows:
        assert x2 >= x1 and y2 >= y1
        assert 0.0 <= score <= 1.0
