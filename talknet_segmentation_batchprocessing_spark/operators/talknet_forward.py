"""M3: real TalkNet audio-visual forward pass in pure numpy.

The reference model (model/talkNetModel.py:8-63) is a torch module; this
container ships no torch, so the forward is re-implemented with numpy
primitives, faithful to the reference layer-by-layer:

- audio frontend: SE-ResNet34-style encoder, layers [3,4,6,3], filters
  [16,32,64,128] (model/audioEncoder.py:54-107). Input [T*4, 13] MFCC
  at 100 Hz; conv1 stride (2,1) halves the freq axis, layers 2-3 stride
  (2,2) bring time to 25 Hz; freq axis is mean-collapsed (A10,
  audioEncoder.py:104) -> [T, 128].
- visual frontend: 3D conv (5,7,7)/(1,2,2) + maxpool + 18-layer ResNet
  -> 512-d per frame (model/visualEncoder.py:100-127), then 5x
  depthwise-separable conv1d TCN (visualEncoder.py:129-155) and a
  512->256->128 conv1d head (visualEncoder.py:157-171) -> [T, 128].
- cross attention A<->V then self attention on the 256-d concat
  (model/attentionLayer.py:6-36, talkNetModel.py:46-55), all dropout
  layers identity (inference mode).
- lossAV head: FC(256,2), score = class-1 logit (loss.py:5-18).

Weights live in a flat dict keyed by torch ``state_dict`` names
(``audioEncoder.conv1.weight`` ...), so a real checkpoint exported to
numpy (M4's ``module.`` strip + key remap, talkNet.py:130-147) drops in
directly; ``init_weights(seed)`` builds a deterministic He-initialized
set for in-container testing. BatchNorm runs in inference mode
(running stats), matching ``model.eval()`` in the reference
(demoTalkNet.py:231).

All convolutions are im2col + BLAS matmul — the numpy-idiomatic
formulation (vectorized, no Python pixel loops).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _pair(v):
    return (v, v) if np.isscalar(v) else tuple(v)


def conv2d(x, w, stride=1, pad=0, dilation=1):
    """x [B,C,H,W], w [O,C,kh,kw] -> [B,O,H',W'] via im2col.
    ``dilation`` spaces the kernel taps (S3FD's fc6 uses 6)."""
    sh, sw = _pair(stride)
    ph, pw = _pair(pad)
    dh, dw = _pair(dilation)
    B, C, H, W = x.shape
    O, _, kh, kw = w.shape
    if ph or pw:
        x = np.pad(x, ((0, 0), (0, 0), (ph, ph), (pw, pw)))
    ekh, ekw = (kh - 1) * dh + 1, (kw - 1) * dw + 1
    Ho = (x.shape[2] - ekh) // sh + 1
    Wo = (x.shape[3] - ekw) // sw + 1
    s0, s1, s2, s3 = x.strides
    cols = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, kh, kw, Ho, Wo),
        strides=(s0, s1, s2 * dh, s3 * dw, s2 * sh, s3 * sw),
        writeable=False,
    )
    cols = cols.reshape(B, C * kh * kw, Ho * Wo)
    out = np.einsum("ok,bkn->bon", w.reshape(O, -1), cols, optimize=True)
    return np.ascontiguousarray(out.reshape(B, O, Ho, Wo))


def conv3d(x, w, stride=(1, 1, 1), pad=(0, 0, 0)):
    """x [B,C,D,H,W], w [O,C,kd,kh,kw]."""
    sd, sh, sw = stride
    pd_, ph, pw = pad
    B, C, D, H, W = x.shape
    O, _, kd, kh, kw = w.shape
    if pd_ or ph or pw:
        x = np.pad(x, ((0, 0), (0, 0), (pd_, pd_), (ph, ph), (pw, pw)))
    Do = (x.shape[2] - kd) // sd + 1
    Ho = (x.shape[3] - kh) // sh + 1
    Wo = (x.shape[4] - kw) // sw + 1
    s0, s1, s2, s3, s4 = x.strides
    cols = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, kd, kh, kw, Do, Ho, Wo),
        strides=(s0, s1, s2, s3, s4, s2 * sd, s3 * sh, s4 * sw),
        writeable=False,
    )
    cols = cols.reshape(B, C * kd * kh * kw, Do * Ho * Wo)
    out = np.einsum("ok,bkn->bon", w.reshape(O, -1), cols, optimize=True)
    return np.ascontiguousarray(out.reshape(B, O, Do, Ho, Wo))


def conv1d(x, w, stride=1, pad=0, groups=1):
    """x [B,C,T], w [O,C//groups,k]."""
    B, C, T = x.shape
    O, Cg, k = w.shape
    if groups == 1:
        out = conv2d(x[:, :, None, :], w[:, :, None, :], stride=(1, stride), pad=(0, pad))
        return out[:, :, 0, :]
    # depthwise (groups == C, Cg == 1) — the only grouped conv in TalkNet
    assert groups == C and Cg == 1, "only depthwise grouped conv supported"
    if pad:
        x = np.pad(x, ((0, 0), (0, 0), (pad, pad)))
    To = (x.shape[2] - k) // stride + 1
    s0, s1, s2 = x.strides
    cols = np.lib.stride_tricks.as_strided(
        x, shape=(B, C, k, To), strides=(s0, s1, s2, s2 * stride), writeable=False
    )
    return np.einsum("ck,bckt->bct", w[:, 0, :], cols, optimize=True)


def batchnorm(x, g, b, mean, var, eps=1e-5):
    """Inference-mode BN over channel axis 1 for any [B,C,...] layout."""
    shape = (1, -1) + (1,) * (x.ndim - 2)
    scale = (g / np.sqrt(var + eps)).reshape(shape)
    shift = (b - mean * g / np.sqrt(var + eps)).reshape(shape)
    return x * scale + shift


def relu(x):
    return np.maximum(x, 0.0)


def sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


def prelu(x, alpha):
    # nn.PReLU() default: one shared alpha (visualEncoder.py:136)
    return np.where(x > 0, x, alpha * x)


def maxpool3d(x, kernel=(1, 3, 3), stride=(1, 2, 2), pad=(0, 1, 1)):
    kd, kh, kw = kernel
    sd, sh, sw = stride
    pd_, ph, pw = pad
    if pd_ or ph or pw:
        x = np.pad(
            x,
            ((0, 0), (0, 0), (pd_, pd_), (ph, ph), (pw, pw)),
            constant_values=-np.inf,
        )
    B, C, D, H, W = x.shape
    Do = (D - kd) // sd + 1
    Ho = (H - kh) // sh + 1
    Wo = (W - kw) // sw + 1
    s0, s1, s2, s3, s4 = x.strides
    win = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, Do, Ho, Wo, kd, kh, kw),
        strides=(s0, s1, s2 * sd, s3 * sh, s4 * sw, s2, s3, s4),
        writeable=False,
    )
    return win.max(axis=(5, 6, 7))


def avgpool2d(x, kernel):
    kh, kw = _pair(kernel)
    B, C, H, W = x.shape
    Ho, Wo = H - kh + 1, W - kw + 1
    s0, s1, s2, s3 = x.strides
    win = np.lib.stride_tricks.as_strided(
        x,
        shape=(B, C, Ho, Wo, kh, kw),
        strides=(s0, s1, s2, s3, s2, s3),
        writeable=False,
    )
    return win.mean(axis=(4, 5))


def linear(x, w, b=None):
    out = x @ w.T
    return out + b if b is not None else out


def layer_norm(x, g, b, eps=1e-5):
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps) * g + b


def global_layer_norm(x, g, b, eps=1e-8):
    """gLN over (C, T) jointly per sample; x [B,C,T]
    (visualEncoder.py:85-99)."""
    mu = x.mean(axis=(1, 2), keepdims=True)
    var = ((x - mu) ** 2).mean(axis=(1, 2), keepdims=True)
    return g.reshape(1, -1, 1) * (x - mu) / np.sqrt(var + eps) + b.reshape(1, -1, 1)


def softmax(x, axis=-1):
    e = np.exp(x - x.max(axis=axis, keepdims=True))
    return e / e.sum(axis=axis, keepdims=True)


def multihead_attention(query, key, value, wqkv, bqkv, wo, bo, nhead):
    """torch nn.MultiheadAttention forward, batch dim dropped
    (TalkNet always runs B=1 through attention; [T, C] tensors).

    wqkv is the packed in_proj [3C, C]; scaling is 1/sqrt(head_dim)
    applied to q, matching torch.
    """
    Tq, C = query.shape
    hd = C // nhead
    q = query @ wqkv[:C].T + bqkv[:C]
    k = key @ wqkv[C : 2 * C].T + bqkv[C : 2 * C]
    v = value @ wqkv[2 * C :].T + bqkv[2 * C :]
    q = q.reshape(Tq, nhead, hd).transpose(1, 0, 2) / np.sqrt(hd)
    k = k.reshape(-1, nhead, hd).transpose(1, 0, 2)
    v = v.reshape(-1, nhead, hd).transpose(1, 0, 2)
    att = softmax(q @ k.transpose(0, 2, 1), axis=-1)
    out = (att @ v).transpose(1, 0, 2).reshape(Tq, C)
    return out @ wo.T + bo


# ---------------------------------------------------------------------------
# weight construction
# ---------------------------------------------------------------------------

AUDIO_LAYERS = [3, 4, 6, 3]  # audioEncoder(layers=[3,4,6,3], ...) talkNetModel.py:21
AUDIO_FILTERS = [16, 32, 64, 128]


def _he(rng, *shape):
    fan_in = int(np.prod(shape[1:])) or 1
    return (rng.standard_normal(shape) * np.sqrt(2.0 / fan_in)).astype(np.float64)


def _add_bn(w, rng, name, c):
    w[f"{name}.weight"] = np.ones(c)
    w[f"{name}.bias"] = np.zeros(c)
    # non-trivial running stats so BN actually transforms in tests
    w[f"{name}.running_mean"] = rng.standard_normal(c) * 0.1
    w[f"{name}.running_var"] = np.ones(c) + rng.random(c) * 0.1


def _add_linear(w, rng, name, i, o):
    w[f"{name}.weight"] = _he(rng, o, i)
    w[f"{name}.bias"] = np.zeros(o)


def _add_attention(w, rng, name, d):
    w[f"{name}.self_attn.in_proj_weight"] = _he(rng, 3 * d, d)
    w[f"{name}.self_attn.in_proj_bias"] = np.zeros(3 * d)
    _add_linear(w, rng, f"{name}.self_attn.out_proj", d, d)
    _add_linear(w, rng, f"{name}.linear1", d, d * 4)
    _add_linear(w, rng, f"{name}.linear2", d * 4, d)
    w[f"{name}.norm1.weight"] = np.ones(d)
    w[f"{name}.norm1.bias"] = np.zeros(d)
    w[f"{name}.norm2.weight"] = np.ones(d)
    w[f"{name}.norm2.bias"] = np.zeros(d)


def init_weights(seed: int = 7) -> dict[str, np.ndarray]:
    """Deterministic He-initialized weight set, keyed by the exact torch
    state_dict names of the reference model."""
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {}

    # --- audio encoder (audioEncoder.py:54-92)
    w["audioEncoder.conv1.weight"] = _he(rng, 16, 1, 7, 7)
    _add_bn(w, rng, "audioEncoder.bn1", 16)
    inplanes = 16
    for li, (planes, blocks) in enumerate(zip(AUDIO_FILTERS, AUDIO_LAYERS), start=1):
        stride = 1 if li == 1 else (2 if li < 4 else 1)
        for bi in range(blocks):
            base = f"audioEncoder.layer{li}.{bi}"
            inp = inplanes if bi == 0 else planes
            w[f"{base}.conv1.weight"] = _he(rng, planes, inp, 3, 3)
            _add_bn(w, rng, f"{base}.bn1", planes)
            w[f"{base}.conv2.weight"] = _he(rng, planes, planes, 3, 3)
            _add_bn(w, rng, f"{base}.bn2", planes)
            _add_linear(w, rng, f"{base}.se.fc.0", planes, planes // 8)
            _add_linear(w, rng, f"{base}.se.fc.2", planes // 8, planes)
            if bi == 0 and (stride != 1 or inp != planes):
                w[f"{base}.downsample.0.weight"] = _he(rng, planes, inp, 1, 1)
                _add_bn(w, rng, f"{base}.downsample.1", planes)
        inplanes = planes

    # --- visual frontend 3D block (visualEncoder.py:108-115)
    w["visualFrontend.frontend3D.0.weight"] = _he(rng, 64, 1, 5, 7, 7)
    _add_bn(w, rng, "visualFrontend.frontend3D.1", 64)

    # --- visual ResNet18 (visualEncoder.py:57-80)
    vshapes = [(64, 64), (64, 128), (128, 256), (256, 512)]
    for li, (inp, out) in enumerate(vshapes, start=1):
        base = f"visualFrontend.resnet.layer{li}"
        w[f"{base}.conv1a.weight"] = _he(rng, out, inp, 3, 3)
        _add_bn(w, rng, f"{base}.bn1a", out)
        w[f"{base}.conv2a.weight"] = _he(rng, out, out, 3, 3)
        w[f"{base}.downsample.weight"] = _he(rng, out, inp, 1, 1)
        _add_bn(w, rng, f"{base}.outbna", out)
        w[f"{base}.conv1b.weight"] = _he(rng, out, out, 3, 3)
        _add_bn(w, rng, f"{base}.bn1b", out)
        w[f"{base}.conv2b.weight"] = _he(rng, out, out, 3, 3)
        _add_bn(w, rng, f"{base}.outbnb", out)

    # --- visual TCN: 5 x DSConv1d (visualEncoder.py:129-155)
    for si in range(5):
        base = f"visualTCN.net.{si}.net"
        _add_bn(w, rng, f"{base}.1", 512)
        w[f"{base}.2.weight"] = _he(rng, 512, 1, 3)  # depthwise
        w[f"{base}.3.weight"] = np.array([0.25])  # PReLU default init
        w[f"{base}.4.gamma"] = np.ones(512)
        w[f"{base}.4.beta"] = np.zeros(512)
        w[f"{base}.5.weight"] = _he(rng, 512, 512, 1)

    # --- visual conv1d head (visualEncoder.py:157-171)
    w["visualConv1D.net.0.weight"] = _he(rng, 256, 512, 5)
    w["visualConv1D.net.0.bias"] = np.zeros(256)
    _add_bn(w, rng, "visualConv1D.net.1", 256)
    w["visualConv1D.net.3.weight"] = _he(rng, 128, 256, 1)
    w["visualConv1D.net.3.bias"] = np.zeros(128)

    # --- attention (talkNetModel.py:24-28)
    _add_attention(w, rng, "crossA2V", 128)
    _add_attention(w, rng, "crossV2A", 128)
    _add_attention(w, rng, "selfAV", 256)

    # --- loss heads (loss.py:8,29,40) — lossA/lossV are train-time
    # auxiliary heads (talkNet.py:64-67), present so the dict mirrors
    # the full torch state_dict and talknet_train can step them
    _add_linear(w, rng, "lossAV.FC", 256, 2)
    _add_linear(w, rng, "lossA.FC", 128, 2)
    _add_linear(w, rng, "lossV.FC", 128, 2)
    return w


# ---------------------------------------------------------------------------
# forward blocks
# ---------------------------------------------------------------------------


def _bn(w, name, x, eps=1e-5):
    # The visual frontend BNs (frontend3D BatchNorm3d and every
    # ResNetLayer BatchNorm2d) are built with eps=0.001 in the reference
    # (visualEncoder.py), unlike torch's 1e-5 default used everywhere
    # else — eps must match or a real checkpoint's embeddings drift.
    return batchnorm(
        x,
        w[f"{name}.weight"],
        w[f"{name}.bias"],
        w[f"{name}.running_mean"],
        w[f"{name}.running_var"],
        eps=eps,
    )


def _se_block(w, base, x, stride, has_down):
    """SEBasicBlock forward — conv1-relu-bn1-conv2-bn2-se-add-relu, the
    reference's (unusual) order (audioEncoder.py:19-34)."""
    residual = x
    out = conv2d(x, w[f"{base}.conv1.weight"], stride=stride, pad=1)
    out = relu(out)
    out = _bn(w, f"{base}.bn1", out)
    out = conv2d(out, w[f"{base}.conv2.weight"], stride=1, pad=1)
    out = _bn(w, f"{base}.bn2", out)
    # SELayer (audioEncoder.py:36-50)
    b, c = out.shape[:2]
    y = out.mean(axis=(2, 3))
    y = relu(linear(y, w[f"{base}.se.fc.0.weight"], w[f"{base}.se.fc.0.bias"]))
    y = sigmoid(linear(y, w[f"{base}.se.fc.2.weight"], w[f"{base}.se.fc.2.bias"]))
    out = out * y.reshape(b, c, 1, 1)
    if has_down:
        residual = conv2d(x, w[f"{base}.downsample.0.weight"], stride=stride)
        residual = _bn(w, f"{base}.downsample.1", residual)
    return relu(out + residual)


def forward_audio_frontend(w, mfcc):
    """mfcc [Ta, 13] at 100 Hz -> [Ta//4, 128] (talkNetModel.py:41-43:
    unsqueeze+transpose puts freq on H, time on W)."""
    x = mfcc.T[None, None, :, :]  # [1,1,13,Ta]
    x = conv2d(x, w["audioEncoder.conv1.weight"], stride=(2, 1), pad=3)
    x = _bn(w, "audioEncoder.bn1", x)
    x = relu(x)
    inplanes = 16
    for li, (planes, blocks) in enumerate(zip(AUDIO_FILTERS, AUDIO_LAYERS), start=1):
        stride = 1 if li == 1 else ((2, 2) if li < 4 else 1)
        for bi in range(blocks):
            base = f"audioEncoder.layer{li}.{bi}"
            has_down = bi == 0 and f"{base}.downsample.0.weight" in w
            x = _se_block(w, base, x, stride if bi == 0 else 1, has_down)
        inplanes = planes
    x = x.mean(axis=2, keepdims=True)  # A10 freq collapse (audioEncoder.py:104)
    return x[0, :, 0, :].T  # [T, 128]


def _resnet_layer(w, base, x, stride):
    """visual ResNetLayer (visualEncoder.py:21-53)."""
    batch = relu(_bn(w, f"{base}.bn1a", conv2d(x, w[f"{base}.conv1a.weight"], stride=stride, pad=1), eps=1e-3))
    batch = conv2d(batch, w[f"{base}.conv2a.weight"], stride=1, pad=1)
    residual = x if stride == 1 else conv2d(x, w[f"{base}.downsample.weight"], stride=stride)
    batch = batch + residual
    intermediate = batch
    batch = relu(_bn(w, f"{base}.outbna", batch, eps=1e-3))
    batch = relu(_bn(w, f"{base}.bn1b", conv2d(batch, w[f"{base}.conv1b.weight"], stride=1, pad=1), eps=1e-3))
    batch = conv2d(batch, w[f"{base}.conv2b.weight"], stride=1, pad=1)
    return relu(_bn(w, f"{base}.outbnb", batch + intermediate, eps=1e-3))


def forward_visual_frontend(w, frames):
    """frames [T, 112, 112] uint8/float -> [T, 128].

    Normalization (x/255 - 0.4161)/0.1688 per talkNetModel.py:32 (X9);
    3D conv treats T as depth (visualEncoder.py:118-126)."""
    x = (frames.astype(np.float64) / 255.0 - 0.4161) / 0.1688
    x = x[None, None, :, :, :]  # [1,1,T,112,112]
    x = conv3d(x, w["visualFrontend.frontend3D.0.weight"], stride=(1, 2, 2), pad=(2, 3, 3))
    x = _bn(w, "visualFrontend.frontend3D.1", x, eps=1e-3)
    x = relu(x)
    x = maxpool3d(x)  # [1,64,T,28,28]
    T = x.shape[2]
    x = x.transpose(0, 2, 1, 3, 4).reshape(T, 64, 28, 28)
    for li, stride in zip(range(1, 5), (1, 2, 2, 2)):
        x = _resnet_layer(w, f"visualFrontend.resnet.layer{li}", x, stride)
    x = avgpool2d(x, (4, 4)).reshape(T, 512)  # [T,512]

    # TCN over [1,512,T] (talkNetModel.py:34-37)
    v = x.T[None, :, :]
    for si in range(5):
        base = f"visualTCN.net.{si}.net"
        out = relu(v)
        out = _bn(w, f"{base}.1", out)
        out = conv1d(out, w[f"{base}.2.weight"], pad=1, groups=512)
        out = prelu(out, w[f"{base}.3.weight"][0])
        out = global_layer_norm(out, w[f"{base}.4.gamma"], w[f"{base}.4.beta"])
        out = conv1d(out, w[f"{base}.5.weight"])
        v = out + v  # residual (visualEncoder.py:139-141)
    v = conv1d(v, w["visualConv1D.net.0.weight"], pad=2) + w[
        "visualConv1D.net.0.bias"
    ].reshape(1, -1, 1)
    v = relu(_bn(w, "visualConv1D.net.1", v))
    v = conv1d(v, w["visualConv1D.net.3.weight"]) + w["visualConv1D.net.3.bias"].reshape(
        1, -1, 1
    )
    return v[0].T  # [T, 128]


def _attention(w, name, src, tar, nhead=8):
    """attentionLayer.forward (attentionLayer.py:23-36): query=tar,
    key/value=src; dropouts are identity at inference."""
    src2 = multihead_attention(
        tar,
        src,
        src,
        w[f"{name}.self_attn.in_proj_weight"],
        w[f"{name}.self_attn.in_proj_bias"],
        w[f"{name}.self_attn.out_proj.weight"],
        w[f"{name}.self_attn.out_proj.bias"],
        nhead,
    )
    src = layer_norm(src + src2, w[f"{name}.norm1.weight"], w[f"{name}.norm1.bias"])
    src2 = linear(
        relu(linear(src, w[f"{name}.linear1.weight"], w[f"{name}.linear1.bias"])),
        w[f"{name}.linear2.weight"],
        w[f"{name}.linear2.bias"],
    )
    return layer_norm(src + src2, w[f"{name}.norm2.weight"], w[f"{name}.norm2.bias"])


def talknet_forward(w: dict, mfcc: np.ndarray, frames: np.ndarray) -> np.ndarray:
    """Full clip forward: mfcc [Ta,13] + frames [Tv,112,112] -> per-frame
    speaking score [min(Ta//4, Tv)] (the A/V length alignment X6 is the
    caller's job; this trims defensively).

    Mirrors demoTalkNet.py:259-266: audio frontend, visual frontend,
    cross attention, AV backend, lossAV score."""
    t = min(mfcc.shape[0] // 4, frames.shape[0])
    if t == 0:
        return np.zeros(0)
    embed_a = forward_audio_frontend(w, mfcc[: t * 4])[:t]
    embed_v = forward_visual_frontend(w, frames[:t])
    a_c = _attention(w, "crossA2V", src=embed_a, tar=embed_v)
    v_c = _attention(w, "crossV2A", src=embed_v, tar=embed_a)
    av = np.concatenate([a_c, v_c], axis=1)  # [T, 256]
    av = _attention(w, "selfAV", src=av, tar=av)
    logits = linear(av, w["lossAV.FC.weight"], w["lossAV.FC.bias"])
    return logits[:, 1]  # predScore (loss.py:15-17)


def talknet_scorer(weights: dict | None = None, seed: int = 7):
    """Scorer for ``score_tracks``'s feature-aware contract: consumes the
    per-clip MFCC + face tensors the shell slices out (W9 clip loop).

    Marked ``needs_features`` so the shell knows to assemble and pass
    the real tensors instead of only (ids, duration). The score is a
    function of those clip tensors only (the ids and duration are
    ignored), which lets the shell call it once per distinct clip
    across the duration ensemble. The forward only reads ``w``, so
    ``score_tracks`` may call one scorer from several threads of a
    task at once; keep any replacement forward free of shared mutable
    state for the same reason."""
    w = weights if weights is not None else init_weights(seed)

    def score(video_id, track_id, frame_idx, duration, audio=None, video=None):
        if audio is None or video is None:
            raise ValueError("talknet_scorer requires mfcc/face features")
        out = talknet_forward(w, audio, video)
        if len(out) < len(frame_idx):  # trailing frames beyond alignment
            out = np.concatenate([out, np.zeros(len(frame_idx) - len(out))])
        return out[: len(frame_idx)]

    score.needs_features = True
    return score
