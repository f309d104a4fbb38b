"""Tests for X4/X7/X8 signal-prep functions (pure numpy, no Spark)."""

from __future__ import annotations

import numpy as np

from talknet_segmentation_batchprocessing_spark.functions.augment import (
    center_crop,
    energy_db,
    face_pipeline,
    resize_nearest,
    snr_mix,
    wrap_pad,
)


def test_wrap_pad():
    x = np.array([1, 2, 3], dtype=np.int16)
    np.testing.assert_array_equal(wrap_pad(x, 7), [1, 2, 3, 1, 2, 3, 1])
    np.testing.assert_array_equal(wrap_pad(x, 2), [1, 2])
    assert wrap_pad(np.array([], dtype=np.int16), 4).tolist() == [0, 0, 0, 0]


def test_snr_mix_hits_target_snr():
    rng = np.random.RandomState(0)
    clean = rng.normal(0, 1000, 16000)
    noise = rng.normal(0, 300, 7000)  # shorter -> exercises wrap_pad
    for snr in (0.0, 10.0):
        mixed = snr_mix(clean, noise, snr)
        added = mixed - clean
        achieved = energy_db(clean) - energy_db(added)
        assert abs(achieved - snr) < 0.1  # eps in energy_db allows tiny drift


def test_face_pipeline_shapes():
    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, size=(300, 400, 3)).astype(np.float64)
    out = face_pipeline(img)
    assert out.shape == (112, 112)
    # resize + crop are deterministic
    np.testing.assert_array_equal(out, face_pipeline(img))
    assert resize_nearest(img[..., 0], 224, 224).shape == (224, 224)
    assert center_crop(np.ones((224, 224)), 112).shape == (112, 112)
