"""operators/talknet_train.py — M5 head training: finite-difference
gradient checks, exact distributed == local gradient, Adam trajectory
parity, and loss descent on separable data."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from talknet_segmentation_batchprocessing_spark.operators.talknet_forward import (
    init_weights,
)
from talknet_segmentation_batchprocessing_spark.operators.talknet_train import (
    _PARAM_KEYS,
    _check_head_params,
    _epoch_mean_grad,
    _unflatten,
    loss_and_grads,
    train_heads_adam,
)


def _data(rng, n):
    X_av = rng.standard_normal((n, 256))
    X_a = rng.standard_normal((n, 128))
    X_v = rng.standard_normal((n, 128))
    y = rng.integers(0, 2, size=n)
    return X_av, X_a, X_v, y


@pytest.fixture(scope="module")
def w():
    return init_weights(seed=7)


def test_gradients_match_finite_differences(w):
    rng = np.random.default_rng(1)
    X_av, X_a, X_v, y = _data(rng, 12)
    loss, grads = loss_and_grads(w, X_av, X_a, X_v, y)
    eps = 1e-6
    for key in _PARAM_KEYS:
        g = grads[key]
        # probe 3 coordinates per parameter
        flat_idx = rng.choice(g.size, size=min(3, g.size), replace=False)
        for fi in flat_idx:
            idx = np.unravel_index(fi, g.shape)
            wp = {k: v.copy() if k in _PARAM_KEYS else v for k, v in w.items()}
            wp[key] = wp[key].copy()
            wp[key][idx] += eps
            lp, _ = loss_and_grads(wp, X_av, X_a, X_v, y)
            wm = {k: v.copy() if k in _PARAM_KEYS else v for k, v in w.items()}
            wm[key] = wm[key].copy()
            wm[key][idx] -= eps
            lm, _ = loss_and_grads(wm, X_av, X_a, X_v, y)
            fd = (lp - lm) / (2 * eps)
            assert abs(fd - g[idx]) < 1e-6, (key, idx, fd, g[idx])


def test_distributed_step_equals_local_full_batch(spark, w):
    rng = np.random.default_rng(2)
    n = 64
    X_av, X_a, X_v, y = _data(rng, n)
    pdf = pd.DataFrame(
        {
            "av": list(X_av),
            "a": list(X_a),
            "v": list(X_v),
            "label": y.astype(int),
        }
    )
    feats = spark.createDataFrame(pdf).repartition(8)  # many partial grads
    n_seen, loss, flat = _epoch_mean_grad(feats, _check_head_params(w))
    assert n_seen == n
    grads = _unflatten(flat)
    local_loss, local_grads = loss_and_grads(w, X_av, X_a, X_v, y)
    np.testing.assert_allclose(loss, local_loss, rtol=0, atol=1e-9)
    for k in _PARAM_KEYS:
        np.testing.assert_allclose(grads[k], local_grads[k], rtol=0, atol=1e-10)


def test_loss_decreases_on_separable_data(spark, w):
    rng = np.random.default_rng(3)
    n = 200
    y = rng.integers(0, 2, size=n)
    # separable: class signal injected into every head's features
    X_av = rng.standard_normal((n, 256)) + 3.0 * (2 * y - 1)[:, None]
    X_a = rng.standard_normal((n, 128)) + 3.0 * (2 * y - 1)[:, None]
    X_v = rng.standard_normal((n, 128)) + 3.0 * (2 * y - 1)[:, None]
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v), "label": y.astype(int)}
    )
    feats = spark.createDataFrame(pdf)
    _w, losses, _n, _st = train_heads_adam(feats, w, epochs=4, lr=0.05)
    assert losses == sorted(losses, reverse=True), losses
    assert losses[-1] < losses[0] * 0.9


def _local_adam_trajectory(w, X_av, X_a, X_v, y, epochs, lr, decay,
                           betas=(0.9, 0.999), eps=1e-8):
    """Hand-rolled torch-semantics Adam + StepLR(1, decay) on the local
    full batch — the trajectory the distributed loop must match."""
    cur = {k: np.asarray(w[k], dtype=np.float64).copy() for k in _PARAM_KEYS}
    m = {k: np.zeros_like(cur[k]) for k in _PARAM_KEYS}
    v = {k: np.zeros_like(cur[k]) for k in _PARAM_KEYS}
    b1, b2 = betas
    losses = []
    for e in range(epochs):
        loss, grads = loss_and_grads(cur, X_av, X_a, X_v, y)
        losses.append(loss)
        lr_e = lr * decay**e
        t = e + 1
        for k in _PARAM_KEYS:
            g = grads[k]
            m[k] = b1 * m[k] + (1 - b1) * g
            v[k] = b2 * v[k] + (1 - b2) * g * g
            m_hat = m[k] / (1 - b1**t)
            v_hat = v[k] / (1 - b2**t)
            cur[k] = cur[k] - lr_e * m_hat / (np.sqrt(v_hat) + eps)
    return cur, losses


def test_adam_matches_local_trajectory(spark, w):
    rng = np.random.default_rng(6)
    n = 48
    X_av, X_a, X_v, y = _data(rng, n)
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v), "label": y.astype(int)}
    )
    feats = spark.createDataFrame(pdf).repartition(6)
    new_w, losses, n_seen, st = train_heads_adam(
        feats, w, epochs=3, lr=0.05, lr_decay=0.95
    )
    assert n_seen == n and st.t == 3
    exp_w, exp_losses = _local_adam_trajectory(
        w, X_av, X_a, X_v, y, epochs=3, lr=0.05, decay=0.95
    )
    np.testing.assert_allclose(losses, exp_losses, rtol=0, atol=1e-9)
    for k in _PARAM_KEYS:
        np.testing.assert_allclose(new_w[k], exp_w[k], rtol=0, atol=1e-9)


def test_adam_state_continuation_keeps_schedule(spark, w):
    """2 epochs in one call == 1 epoch + 1 epoch continuing the state
    (moments AND the StepLR position carry across calls)."""
    rng = np.random.default_rng(7)
    X_av, X_a, X_v, y = _data(rng, 16)
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v), "label": y.astype(int)}
    )
    feats = spark.createDataFrame(pdf)
    w2, losses2, _, _ = train_heads_adam(feats, w, epochs=2, lr=0.05, lr_decay=0.9)
    w1, _, _, st = train_heads_adam(feats, w, epochs=1, lr=0.05, lr_decay=0.9)
    w1b, _, _, _ = train_heads_adam(
        feats, w1, epochs=1, lr=0.05, lr_decay=0.9, state=st
    )
    for k in _PARAM_KEYS:
        np.testing.assert_allclose(w1b[k], w2[k], rtol=0, atol=1e-12)


def test_null_labels_rejected_with_clear_message(spark, w):
    rng = np.random.default_rng(8)
    X_av, X_a, X_v, _y = _data(rng, 4)
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v),
         "label": [0, 1, None, 0]}
    )
    feats = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="null values in training columns"):
        train_heads_adam(feats, w)


def test_invalid_labels_rejected(spark, w):
    rng = np.random.default_rng(4)
    X_av, X_a, X_v, _y = _data(rng, 8)
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v),
         "label": [0, 1, -1, 0, 1, 0, 1, 0]}
    )
    feats = spark.createDataFrame(pdf)
    with pytest.raises(Exception, match="labels must be 0/1"):
        train_heads_adam(feats, w)


def test_missing_head_params_fail_fast(spark, w):
    stripped = {k: v for k, v in w.items() if not k.startswith("lossA.")}
    rng = np.random.default_rng(5)
    X_av, X_a, X_v, y = _data(rng, 4)
    pdf = pd.DataFrame(
        {"av": list(X_av), "a": list(X_a), "v": list(X_v), "label": y.astype(int)}
    )
    feats = spark.createDataFrame(pdf)
    with pytest.raises(KeyError, match="missing head params"):
        train_heads_adam(feats, stripped)
