"""Baseline JFIF (grayscale) JPEG codec — pure numpy, no codec library.

Companion to sources/riff.py: where that module makes UNCOMPRESSED
real-bytes media testable in a wheel-less image, this one covers the
COMPRESSED path — the branch a user's actual MJPEG corpus hits
(batchProcessVideos.py:24's extension list routes compressed media to
the codec decoder; demoTalkNet.py:485-508's ffmpeg stage itself emits
one JPEG per frame). A matched encoder/decoder pair means the
committed MJPEG-in-AVI fixture both (a) decodes for real in THIS
image through ``riff.read_avi`` and (b) is standard baseline JFIF
with Annex-K tables, so wherever Pillow/PyAV exists the same bytes
decode through libjpeg and the cross-check test compares the two.

Scope: ITU-T T.81 baseline sequential DCT, single 8-bit grayscale
component, standard Annex-K quantization + Huffman tables, JFIF APP0.
Anything else raises naming the unsupported field.
"""

from __future__ import annotations

import struct
from functools import lru_cache

import numpy as np

# ---------------------------------------------------------------------------
# Annex K tables
# ---------------------------------------------------------------------------

# K.1 luminance quantization (natural row-major order)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)

# zigzag scan: _ZIGZAG[k] = natural index of the k-th zigzag element
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# K.3.1 luminance DC: BITS (codes per length 1..16) and HUFFVAL
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))

# K.3.2 luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code assignment: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


@lru_cache(maxsize=16)
def _huff_lut(bits: bytes, vals: bytes) -> tuple[int, ...]:
    """The decoder's 16-bit peek table: entry ``w`` for the next 16 bits
    ``w`` of the scan is ``symbol << 5 | length`` of the code that
    prefixes ``w``, or 0 if no code does. Shorter codes win, as in a
    bit-by-bit walk."""
    lut = [0] * 65536
    codes = sorted(_huff_codes(list(bits), list(vals)).items(), key=lambda c: -c[1][1])
    for sym, (code, length) in codes:
        if code >> length:  # overfull BITS: the code does not fit
            continue
        lo = code << (16 - length)
        lut[lo : lo + (1 << (16 - length))] = [(sym << 5) | length] * (1 << (16 - length))
    return tuple(lut)  # cached and shared by every decode: read-only


# orthonormal DCT-II basis: Y = C @ X @ C.T is exactly the JPEG FDCT
_C = np.zeros((8, 8))
for _k in range(8):
    _a = np.sqrt(0.125) if _k == 0 else np.sqrt(0.25)
    for _n in range(8):
        _C[_k, _n] = _a * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


def _quant_table(quality: int) -> np.ndarray:
    """libjpeg quality scaling of the Annex-K table."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (_QT_LUMA * scale + 50) // 100
    return np.clip(t, 1, 255)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.out)


def encode_gray_jpeg(img: np.ndarray, quality: int = 85) -> bytes:
    """(h, w) uint8 grayscale -> baseline JFIF JPEG bytes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError("encode_gray_jpeg takes a 2-D grayscale array")
    h, w = img.shape
    if not h or not w or h > 65535 or w > 65535:
        raise ValueError(f"unsupported image size {h}x{w}")
    qt = _quant_table(quality)
    qt2d = qt.reshape(8, 8).astype(np.float64)

    # pad to 8x8 multiples by edge replication (the standard MCU fill)
    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = img
    padded[h:, :w] = img[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]

    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block = padded[by : by + 8, bx : bx + 8] - 128.0
            coef = _C @ block @ _C.T
            scaled = coef / qt2d
            # round half away from zero (the spec's nearest-integer)
            q = np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)
            zz = q.reshape(-1)[_ZIGZAG].astype(np.int64)

            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            s = _category(diff)
            code, length = dc_codes[s]
            bw.put(code, length)
            if s:
                bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)

            run = 0
            last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
            for k in range(1, last_nz + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]  # ZRL
                    bw.put(code, length)
                    run -= 16
                s = _category(v)
                code, length = ac_codes[(run << 4) | s]
                bw.put(code, length)
                bw.put(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if last_nz < 63:
                code, length = ac_codes[0x00]  # EOB
                bw.put(code, length)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    app0 = seg(0xFFE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    dqt = seg(0xFFDB, b"\x00" + bytes(int(qt[z]) for z in _ZIGZAG))
    sof0 = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xFFC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xff\xd8" + app0 + dqt + sof0 + dht + sos + entropy + b"\xff\xd9"


def _scan_windows(scan: bytes) -> list[int]:
    """Entropy-coded segment -> 32-bit big-endian windows, one per byte
    offset, over the unstuffed bytes up to the first marker and then
    1-bits (the spec's padding)."""
    end = 0
    while True:
        end = scan.find(b"\xff", end)
        if end < 0:
            end = len(scan)
            break
        if end + 1 < len(scan) and scan[end + 1] == 0x00:
            end += 2
            continue
        break
    b = np.frombuffer(
        scan[:end].replace(b"\xff\x00", b"\xff") + b"\xff" * 4, dtype=np.uint8
    ).astype(np.int64)
    return ((b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]).tolist()


def decode_gray_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF JPEG bytes -> (h, w) uint8 grayscale array.

    Reads the tables FROM THE FILE (DQT/DHT/SOF0), so it decodes any
    single-component baseline JPEG, not just this module's output.
    Each Huffman symbol is one lookup of the next 16 scan bits in a
    peek table; the IDCT runs once over all blocks."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (no SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    dc_tables: dict[int, tuple] = {}
    ac_tables: dict[int, tuple] = {}
    h = w = 0
    comp_q = comp_dc = comp_ac = 0
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                zz = np.frombuffer(body, dtype=np.uint8, count=64, offset=o + 1)
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZIGZAG] = zz
                qts[tq] = nat
                o += 65
        elif marker == 0xC4:
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = bytes(body[o + 1 : o + 17])
                n = sum(bits)
                vals = bytes(body[o + 17 : o + 17 + n])
                (ac_tables if tc else dc_tables)[th] = _huff_lut(bits, vals)
                o += 17 + n
        elif marker == 0xC0:
            precision = body[0]
            h, w = struct.unpack_from(">HH", body, 1)
            ncomp = body[5]
            if precision != 8 or ncomp != 1:
                raise ValueError(
                    f"only 8-bit single-component baseline supported "
                    f"(precision={precision}, components={ncomp})"
                )
            if body[7] != 0x11:
                raise ValueError("only 1x1 sampling supported")
            comp_q = body[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError(f"non-baseline SOF marker 0xFF{marker:02X}")
        elif marker == 0xDA:
            comp_dc, comp_ac = body[2] >> 4, body[2] & 0xF
            scan_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if scan_start is None or not h or not w:
        raise ValueError("JPEG stream has no SOS/SOF0")

    qt2d = qts[comp_q].reshape(8, 8).astype(np.float64)
    dct = dc_tables[comp_dc]
    act = ac_tables[comp_ac]
    win = _scan_windows(data[scan_start:])
    n_win = len(win)
    ones = 0xFFFFFFFF  # past the last window the scan is all pad bits

    def take(p: int, n: int) -> int:
        """``n`` scan bits from bit ``p`` (any ``n``: a file's DC table
        may carry sizes past the window)."""
        v = 0
        while n:
            k = min(n, 16)
            i = p >> 3
            v = (v << k) | (((win[i] if i < n_win else ones) >> (32 - (p & 7) - k)) & ((1 << k) - 1))
            p += k
            n -= k
        return v

    ph, pw = (h + 7) & ~7, (w + 7) & ~7
    n_blocks = (ph // 8) * (pw // 8)
    zigzag = _ZIGZAG.tolist()
    dcs = []
    ac_at: list[int] = []  # flat natural index of each nonzero AC coefficient
    ac_val: list[int] = []
    prev_dc = 0
    p = 0  # bit position in the unstuffed scan
    for blk in range(n_blocks):
        i = p >> 3
        e = dct[((win[i] if i < n_win else ones) >> (16 - (p & 7))) & 0xFFFF]
        if not e:
            raise ValueError("invalid Huffman code in entropy stream")
        p += e & 31
        s = e >> 5
        if s:
            v = take(p, s)
            p += s
            prev_dc += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        dcs.append(prev_dc)
        base = blk * 64
        k = 1
        while k < 64:
            i = p >> 3
            e = act[((win[i] if i < n_win else ones) >> (16 - (p & 7))) & 0xFFFF]
            if not e:
                raise ValueError("invalid Huffman code in entropy stream")
            p += e & 31
            rs = e >> 5
            run, size = rs >> 4, rs & 0xF
            if size == 0:
                if run == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += run
            if k > 63:
                raise ValueError("AC run past end of block")
            # receive/extend from the same window: size <= 15, offset <= 7
            i = p >> 3
            v = ((win[i] if i < n_win else ones) >> (32 - (p & 7) - size)) & ((1 << size) - 1)
            p += size
            ac_at.append(base + zigzag[k])
            ac_val.append(v if v >= (1 << (size - 1)) else v - (1 << size) + 1)
            k += 1
    zz = np.zeros(n_blocks * 64, dtype=np.int64)
    zz[::64] = dcs
    zz[ac_at] = ac_val
    coef = zz.astype(np.float64).reshape(n_blocks, 8, 8) * qt2d
    blocks = np.matmul(np.matmul(_C.T, coef), _C) + 128.0
    out = blocks.reshape(ph // 8, pw // 8, 8, 8).transpose(0, 2, 1, 3).reshape(ph, pw)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)[:h, :w]
