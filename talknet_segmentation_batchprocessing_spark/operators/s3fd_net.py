"""M1: the S3FD convolutional trunk as pure numpy — VGG16 layers,
dilated fc6/fc7, L2Norm scale layers, extras, and the 6 pyramid
(loc, conf) heads with the conf[0] maxout trick, re-expressed from the
reference torch modules (model/faceDetector/s3fd/nets.py:28-174) on
the same im2col/BLAS primitives as the TalkNet forward
(operators/talknet_forward.py). With this module every stage of M1 is
real: trunk (here) -> priors/decode/NMS (operators/s3fd_post.py) ->
Arrow batch shell (operators/inference.py). Only learned weight VALUES
are absent (no torch in the image): the weight dict is keyed exactly
like the torch ``state_dict`` (``vgg.0.weight``, ``L2Norm3_3.weight``,
``extras.1.bias``, ``conf.0.weight``, ...) so a converted checkpoint
drops in directly.

Reference forward (nets.py:111-174): three VGG taps L2Norm-scaled at
strides 4/8/16 (conv3_3, conv4_3, conv5_3), the dilated fc7 tap at
stride 32, and two strided extras taps at 64/128; each tap feeds a 3x3
loc head (4 ch) and conf head (2 ch; the first is 4-ch with
``max(conf[0:3])`` folded against ``conf[3]`` — the anchor-matching
maxout of nets.py:144-146). Feature-map sizes are taken from the REAL
head outputs (nets.py:155-159), not from ceil(size/step): torch floor
pooling makes e.g. 270/4 -> 67 rows where ceil gives 68, so priors
must follow the net, and ``forward`` returns them alongside the heads.
"""

from __future__ import annotations

import io

import numpy as np

from .talknet_forward import conv2d, relu, softmax

# BGR pixel means, reference __init__.py:14.
_IMG_MEAN = np.array([104.0, 117.0, 123.0])

# (state_dict index, out_channels, kernel, pad, dilation) for each VGG
# conv; pools sit at indices 4, 9, 16 (ceil), 23, 30 (nets.py:34-76).
_VGG_CONVS = [
    (0, 64, 3, 1, 1), (2, 64, 3, 1, 1),
    (5, 128, 3, 1, 1), (7, 128, 3, 1, 1),
    (10, 256, 3, 1, 1), (12, 256, 3, 1, 1), (14, 256, 3, 1, 1),
    (17, 512, 3, 1, 1), (19, 512, 3, 1, 1), (21, 512, 3, 1, 1),
    (24, 512, 3, 1, 1), (26, 512, 3, 1, 1), (28, 512, 3, 1, 1),
    (31, 1024, 3, 6, 6),  # fc6: dilation 6
    (33, 1024, 1, 0, 1),  # fc7: 1x1
]
_VGG_IN = [3, 64, 64, 128, 128, 256, 256, 256, 512, 512, 512, 512, 512, 512, 1024]
# source-tap channel widths for the six pyramid heads (nets.py:90-105)
_HEAD_CH = [256, 512, 512, 1024, 512, 256]
_L2NORM_SCALES = {"L2Norm3_3": (256, 10.0), "L2Norm4_3": (512, 8.0), "L2Norm5_3": (512, 5.0)}
_EXTRAS = [
    # (out, in, kernel, stride, pad) — nets.py:83-88
    (256, 1024, 1, 1, 0),
    (512, 256, 3, 2, 1),
    (128, 512, 1, 1, 0),
    (256, 128, 3, 2, 1),
]


def preprocess(image: np.ndarray) -> np.ndarray:
    """HWC uint8/float frame -> [1,3,H,W] float64, replicating the
    reference's exact channel gymnastics (__init__.py:42-47): HWC->CHW,
    flip to reversed channel order, subtract the BGR means positionally,
    flip back — net effect ``(c0-123, c1-117, c2-104)``."""
    x = np.asarray(image, dtype=np.float64)
    x = np.swapaxes(np.swapaxes(x, 1, 2), 1, 0)  # CHW
    x = x[[2, 1, 0], :, :]
    x = x - _IMG_MEAN[:, None, None]
    x = x[[2, 1, 0], :, :]
    return x[None, :, :, :]


def maxpool2d(x: np.ndarray, ceil_mode: bool = False) -> np.ndarray:
    """2x2/2 max pool; ``ceil_mode`` pads right/bottom with -inf so a
    trailing odd row/column forms its own window (torch MaxPool2d
    ceil_mode=True, vgg index 16)."""
    B, C, H, W = x.shape
    if ceil_mode and (H % 2 or W % 2):
        x = np.pad(
            x, ((0, 0), (0, 0), (0, H % 2), (0, W % 2)), constant_values=-np.inf
        )
        H, W = x.shape[2], x.shape[3]
    Ho, Wo = H // 2, W // 2
    x = x[:, :, : Ho * 2, : Wo * 2]
    return x.reshape(B, C, Ho, 2, Wo, 2).max(axis=(3, 5))


def l2norm(x: np.ndarray, weight: np.ndarray, eps: float = 1e-10) -> np.ndarray:
    """Channel-wise L2 normalization with learned per-channel scale
    (nets.py:8-25): ``x / (|x|_2 + eps) * weight``."""
    norm = np.sqrt((x * x).sum(axis=1, keepdims=True)) + eps
    return x / norm * weight.reshape(1, -1, 1, 1)


def _cb(w: dict, name: str, x: np.ndarray, stride=1, pad=0, dilation=1) -> np.ndarray:
    return conv2d(
        x, w[f"{name}.weight"], stride=stride, pad=pad, dilation=dilation
    ) + w[f"{name}.bias"].reshape(1, -1, 1, 1)


def forward(w: dict, image: np.ndarray):
    """Full S3FD forward for one frame: returns ``(loc, conf,
    feature_maps)`` — loc [1,P,4], softmaxed conf [1,P,2], and the
    per-head (H, W) grid sizes the priors must be built from
    (nets.py:111-174)."""
    x = preprocess(image)
    sources = []
    ki = 0  # index into _VGG_CONVS
    # conv1_1 .. conv3_3 (state indices 0..15), tap before pool16
    for _ in range(7):
        idx, _out, k, pad, dil = _VGG_CONVS[ki]
        x = relu(_cb(w, f"vgg.{idx}", x, pad=pad, dilation=dil))
        ki += 1
        if idx in (2, 7):
            x = maxpool2d(x)
    sources.append(l2norm(x, w["L2Norm3_3.weight"]))
    x = maxpool2d(x, ceil_mode=True)  # vgg.16
    for _ in range(3):  # conv4_1..conv4_3
        idx = _VGG_CONVS[ki][0]
        x = relu(_cb(w, f"vgg.{idx}", x, pad=1))
        ki += 1
    sources.append(l2norm(x, w["L2Norm4_3.weight"]))
    x = maxpool2d(x)  # vgg.23
    for _ in range(3):  # conv5_1..conv5_3
        idx = _VGG_CONVS[ki][0]
        x = relu(_cb(w, f"vgg.{idx}", x, pad=1))
        ki += 1
    sources.append(l2norm(x, w["L2Norm5_3.weight"]))
    x = maxpool2d(x)  # vgg.30
    x = relu(_cb(w, "vgg.31", x, pad=6, dilation=6))  # fc6
    x = relu(_cb(w, "vgg.33", x))  # fc7
    sources.append(x)
    for i, (_o, _i, _k, stride, pad) in enumerate(_EXTRAS):
        x = relu(_cb(w, f"extras.{i}", x, stride=stride, pad=pad))
        if i % 2 == 1:
            sources.append(x)

    locs, confs, fmaps = [], [], []
    for i, s in enumerate(sources):
        lo = _cb(w, f"loc.{i}", s, pad=1)
        co = _cb(w, f"conf.{i}", s, pad=1)
        if i == 0:
            # maxout background filter (nets.py:144-146): the 4-ch
            # first head folds max(ch 0..2) against ch 3.
            maxc = co[:, 0:3].max(axis=1, keepdims=True)
            co = np.concatenate([maxc, co[:, 3:]], axis=1)
        fmaps.append((lo.shape[2], lo.shape[3]))
        locs.append(np.ascontiguousarray(lo.transpose(0, 2, 3, 1)).reshape(1, -1))
        confs.append(np.ascontiguousarray(co.transpose(0, 2, 3, 1)).reshape(1, -1))
    loc = np.concatenate(locs, axis=1).reshape(1, -1, 4)
    conf = softmax(np.concatenate(confs, axis=1).reshape(1, -1, 2), axis=-1)
    return loc, conf, fmaps


def s3fd_forward_fn(weights: dict):
    """Adapter for ``s3fd_detector(forward_fn=...)``: one frame ->
    ``(loc, conf, feature_maps)``; the detector builds priors from the
    returned feature maps (floor-pooled sizes differ from
    ceil(size/step) on inputs not divisible by 128)."""

    def fn(image, _meta):
        return forward(weights, image)

    return fn


def gray_frame_detector_builder(height: int, width: int, conf_th: float):
    """``detect_faces(model_builder=...)`` over the raw ``height`` x
    ``width`` gray frames of the media ingest: npz weight bytes ->
    ``s3fd_detector`` on this forward, each frame stacked to the three
    equal channels the trunk expects (the reference feeds BGR)."""

    def build(state: bytes):
        from .inference import s3fd_detector

        z = np.load(io.BytesIO(state))
        base = s3fd_forward_fn({k: z[k] for k in z.files})

        def fn(image, meta):
            arr = np.frombuffer(image, dtype=np.uint8).reshape(height, width)
            return base(np.repeat(arr[:, :, None], 3, axis=2), meta)

        return s3fd_detector(forward_fn=fn, input_size=(height, width), conf_th=conf_th)

    return build


def init_weights(seed: int = 13) -> dict[str, np.ndarray]:
    """Seeded state_dict-shaped weight dict (He-init convs, reference
    constant L2Norm scales 10/8/5 per nets.py:79-81). Stands in for the
    absent checkpoint; a torch-exported ``sfd_face.pth`` (converted to
    numpy) loads into the same keys."""
    rng = np.random.default_rng(seed)
    w: dict[str, np.ndarray] = {}

    def conv(name, o, i, k):
        fan_in = i * k * k
        w[f"{name}.weight"] = rng.standard_normal((o, i, k, k)) * np.sqrt(2.0 / fan_in)
        w[f"{name}.bias"] = np.zeros(o)

    for (idx, out, k, _pad, _dil), cin in zip(_VGG_CONVS, _VGG_IN):
        conv(f"vgg.{idx}", out, cin, k)
    for name, (ch, scale) in _L2NORM_SCALES.items():
        w[f"{name}.weight"] = np.full(ch, scale)
    for i, (o, ci, k, _s, _p) in enumerate(_EXTRAS):
        conv(f"extras.{i}", o, ci, k)
    for i, ch in enumerate(_HEAD_CH):
        conv(f"loc.{i}", 4, ch, 3)
        conv(f"conf.{i}", 4 if i == 0 else 2, ch, 3)
    return w
