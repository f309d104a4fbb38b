"""The table-driven JPEG decoder (sources/jpeg.decode_gray_jpeg) against
a slow reference kept here: a bit-by-bit reader that unstuffs as it
goes, a (length, code) dict walk per Huffman symbol, and one 8x8 IDCT
per block. Both must give the same bytes, or raise the same error, on
corpus-like frames and on noise of odd sizes over the quality range."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from talknet_segmentation_batchprocessing_spark.sources.jpeg import (
    _C,
    _ZIGZAG,
    _huff_codes,
    decode_gray_jpeg,
    encode_gray_jpeg,
)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data, self.pos, self.acc, self.nbits = data, 0, 0, 0

    def bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                return 1  # pad bits past the scan
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                    self.pos += 1  # stuffed zero
                else:  # a marker: the scan is over
                    self.data = self.data[: self.pos - 1]
            self.acc = (self.acc << 8) | b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def extend(self, s: int) -> int:
        if s == 0:
            return 0
        v = self.bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1

    def symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code in entropy stream")


def reference_decode(data: bytes) -> np.ndarray:
    pos, qts, tables = 2, {}, {}
    while True:
        marker = data[pos + 1]
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            nat = np.zeros(64, dtype=np.int64)
            nat[_ZIGZAG] = np.frombuffer(body, dtype=np.uint8, count=64, offset=1)
            qts[body[0] & 0xF] = nat
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                bits = list(body[o + 1 : o + 17])
                vals = list(body[o + 17 : o + 17 + sum(bits)])
                tables[(body[o] >> 4, body[o] & 0xF)] = {
                    (length, code): sym
                    for sym, (code, length) in _huff_codes(bits, vals).items()
                }
                o += 17 + sum(bits)
        elif marker == 0xC0:
            h, w = struct.unpack_from(">HH", body, 1)
            comp_q = body[8]
        elif marker == 0xDA:
            dct, act = tables[(0, body[2] >> 4)], tables[(1, body[2] & 0xF)]
            br = _BitReader(data[pos + 2 + seg_len :])
            break
        pos += 2 + seg_len
    qt2d = qts[comp_q].reshape(8, 8).astype(np.float64)
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    out = np.zeros((ph, pw))
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            zz = np.zeros(64, dtype=np.int64)
            prev_dc += br.extend(br.symbol(dct))
            zz[0] = prev_dc
            k = 1
            while k < 64:
                rs = br.symbol(act)
                run, size = rs >> 4, rs & 0xF
                if size == 0:
                    if run == 15:
                        k += 16
                        continue
                    break
                k += run
                if k > 63:
                    raise ValueError("AC run past end of block")
                zz[k] = br.extend(size)
                k += 1
            coef = np.zeros(64)
            coef[_ZIGZAG] = zz
            out[by : by + 8, bx : bx + 8] = _C.T @ (coef.reshape(8, 8) * qt2d) @ _C + 128.0
    return np.clip(np.round(out), 0, 255).astype(np.uint8)[:h, :w]


def _both(data: bytes):
    try:
        want = reference_decode(data)
    except ValueError as exc:
        with pytest.raises(ValueError, match=str(exc)):
            decode_gray_jpeg(data)
        return
    got = decode_gray_jpeg(data)
    assert got.dtype == np.uint8 and got.shape == want.shape
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("quality", [50, 85, 90, 95])
def test_lut_decode_matches_reference_on_corpus_frames(quality):
    """The 64x96 frames the seeded MJPEG corpus encodes, seeds 0..29."""
    for seed in range(30):
        px = np.random.default_rng(seed).integers(0, 256, size=(64, 96), dtype=np.uint8)
        _both(encode_gray_jpeg(px, quality))


@pytest.mark.parametrize("shape", [(1, 1), (7, 13), (16, 16), (24, 34), (224, 224)])
def test_lut_decode_matches_reference_on_noise(shape):
    rng = np.random.default_rng(shape[0] * 1000 + shape[1])
    qualities = (10, 50, 100) if shape == (224, 224) else (10, 30, 50, 75, 90, 100)
    for q in qualities:
        _both(encode_gray_jpeg(rng.integers(0, 256, size=shape, dtype=np.uint8), q))


def test_lut_decode_matches_reference_on_damaged_scans():
    """Cut or overwritten scans: the decoders pad with 1-bits past the
    first marker alike, and fail with the same message."""
    rng = np.random.default_rng(5)
    data = encode_gray_jpeg(rng.integers(0, 256, size=(24, 34), dtype=np.uint8), 85)
    sos = data.index(b"\xff\xda")
    scan = sos + 2 + struct.unpack_from(">H", data, sos + 2)[0]
    for cut in (scan + 1, scan + 40, len(data) - 30, len(data) - 2):
        _both(data[:cut] + b"\xff\xd9")
    _both(data[:scan] + b"\xff" * 8 + b"\xff\xd9")
    _both(data[: scan + 20] + b"\xff\x00" * 6 + data[scan + 32 :])
