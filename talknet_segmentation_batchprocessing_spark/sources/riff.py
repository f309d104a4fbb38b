"""Uncompressed RIFF AVI / PCM WAV codec — pure stdlib + numpy.

The reference's ingest step shells out to ffmpeg per video
(demoTalkNet.py:485-508) to produce exactly this class of stream:
constant-frame-rate video plus 16 kHz mono ``pcm_s16le`` audio
(utils/tools.py:92-102). Both containers are trivial RIFF chunk
formats, so a writer + parser needs no codec library at all — which
is what makes a REAL-bytes end-to-end test possible in an image with
no ffmpeg/PyAV/cv2: tests synthesize an actual .avi/.wav file, the
``binaryFile`` corpus scan reads its bytes, and
``media_ingest.riff_decoder`` decodes them through the same
``mapInPandas`` shell the production PyAV decoder uses.

Scope (deliberately the minimal honest subset):
  - AVI: single 8-bit grayscale video stream, either uncompressed
    (BI_RGB DIB, bottom-up rows padded to 4 bytes) or MJPEG
    (one baseline JFIF image per frame via sources/jpeg.py — the
    COMPRESSED path a user's actual MJPEG corpus hits), + optional
    mono 16-bit PCM audio stream; ``00db``/``00dc``/``01wb`` movi
    chunks + idx1.
  - WAV: mono 16-bit PCM (``fmt `` + ``data``).
Anything else raises with a message naming the unsupported field —
other compressed codecs route through the PyAV decoder in production.
"""

from __future__ import annotations

import struct

import numpy as np

_MJPG = int.from_bytes(b"MJPG", "little")  # biCompression fourcc

# ---------------------------------------------------------------------------
# chunk primitives
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    # RIFF chunks are word-aligned: odd payloads get one pad byte that
    # is NOT counted in the stored size
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def _iter_chunks(buf: bytes, off: int, end: int):
    """Yield (fourcc, data_offset, data_size) walking [off, end)."""
    while off + 8 <= end:
        fourcc = buf[off : off + 4]
        (size,) = struct.unpack_from("<I", buf, off + 4)
        data_off = off + 8
        yield fourcc, data_off, size
        off = data_off + size + (size & 1)


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------


def read_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """Parse mono 16-bit PCM WAV bytes -> (int16 samples, sample rate)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    sr = None
    data = b""
    for fourcc, off, size in _iter_chunks(buf, 12, 8 + struct.unpack_from("<I", buf, 4)[0]):
        if fourcc == b"fmt ":
            tag, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", buf, off)
            if tag != 1 or ch != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV format: tag={tag} channels={ch} "
                    f"bits={bits} (only mono 16-bit PCM)"
                )
            sr = rate
        elif fourcc == b"data":
            data = buf[off : off + size]
    if sr is None:
        raise ValueError("WAV stream has no fmt chunk")
    return np.frombuffer(data, dtype="<i2"), sr


# ---------------------------------------------------------------------------
# AVI writer
# ---------------------------------------------------------------------------


def _dib_gray(frame: np.ndarray) -> bytes:
    """8-bit grayscale frame -> DIB pixel data: bottom-up rows, each
    padded to a 4-byte boundary (the BMP/DIB storage rule)."""
    h, w = frame.shape
    stride = (w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = frame
    return rows[::-1].tobytes()


def write_avi(
    frames: list[np.ndarray],
    fps: float,
    samples: np.ndarray | None = None,
    sr: int = 16000,
    codec: str = "raw",
    quality: int = 90,
) -> bytes:
    """Single-video-stream (plus optional PCM audio) AVI bytes.

    ``frames`` are (h, w) uint8 grayscale arrays, all the same shape.
    ``codec="raw"`` stores palettized 8-bit BI_RGB DIBs with an
    identity grayscale palette; ``codec="mjpeg"`` stores one baseline
    JFIF image per frame (sources/jpeg.py) in ``00dc`` chunks with the
    MJPG fourcc — the standard motion-JPEG-in-AVI layout. ``fps``
    becomes the video stream's dwRate/dwScale (1000x fixed point, so
    12.5 fps round-trips exactly).
    """
    if not frames:
        raise ValueError("write_avi needs at least one frame")
    if codec not in ("raw", "mjpeg"):
        raise ValueError(f"unsupported codec {codec!r} (raw | mjpeg)")
    h, w = frames[0].shape
    if any(f.shape != (h, w) for f in frames):
        raise ValueError("all frames must share one shape")
    rate, scale = int(round(fps * 1000)), 1000
    if codec == "mjpeg":
        from .jpeg import encode_gray_jpeg

        dibs = [
            encode_gray_jpeg(np.asarray(f, dtype=np.uint8), quality)
            for f in frames
        ]
    else:
        dibs = [_dib_gray(np.asarray(f, dtype=np.uint8)) for f in frames]
    frame_bytes = max(len(d) for d in dibs)

    has_audio = samples is not None and len(samples) > 0
    n_streams = 2 if has_audio else 1

    # --- hdrl
    avih = struct.pack(
        "<IIIIIIIIII4I",
        int(round(1e6 / fps)),  # dwMicroSecPerFrame
        frame_bytes * int(round(fps)),  # dwMaxBytesPerSec (approx)
        0,  # dwPaddingGranularity
        0x10,  # AVIF_HASINDEX
        len(frames),
        0,
        n_streams,
        frame_bytes,
        w,
        h,
        0, 0, 0, 0,
    )
    handler = b"MJPG" if codec == "mjpeg" else b"DIB "
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", handler, 0, 0, 0, 0,
        scale, rate, 0, len(frames), frame_bytes, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    if codec == "mjpeg":
        strf_v = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, _MJPG, frame_bytes, 0, 0, 0, 0
        )
    else:
        palette = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
        strf_v = (
            struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 8, 0, frame_bytes, 0, 0, 256, 0
            )
            + palette
        )
    strl_v = _list(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))
    strls = strl_v
    if has_audio:
        pcm = np.asarray(samples, dtype="<i2")
        strh_a = struct.pack(
            "<4s4sIHHIIIIIIII4H",
            b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
            1, sr, 0, len(pcm), len(pcm) * 2, 0xFFFFFFFF, 2,
            0, 0, 0, 0,
        )
        strf_a = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
        strls += _list(b"strl", _chunk(b"strh", strh_a) + _chunk(b"strf", strf_a))
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + strls)

    # --- movi: all video frames, then one audio chunk (interleaving is
    # an optimization for streaming players, not a format requirement)
    movi_payload = b"movi"
    index_entries = []
    vid_ck = b"00dc" if codec == "mjpeg" else b"00db"
    for dib in dibs:
        index_entries.append((vid_ck, 0x10, len(movi_payload) - 4, len(dib)))
        movi_payload += _chunk(vid_ck, dib)
    if has_audio:
        pcm_bytes = np.asarray(samples, dtype="<i2").tobytes()
        index_entries.append((b"01wb", 0x10, len(movi_payload) - 4, len(pcm_bytes)))
        movi_payload += _chunk(b"01wb", pcm_bytes)
    movi = _chunk(b"LIST", movi_payload)

    idx1 = b"".join(
        ckid + struct.pack("<III", flags, off, size)
        for ckid, flags, off, size in index_entries
    )
    body = b"AVI " + hdrl + movi + _chunk(b"idx1", idx1)
    return _chunk(b"RIFF", body)


# ---------------------------------------------------------------------------
# AVI parser
# ---------------------------------------------------------------------------


def read_avi(buf: bytes) -> tuple[list[np.ndarray], float, np.ndarray, int]:
    """Parse an uncompressed AVI -> (gray frames, fps, int16 samples, sr).

    Supports the subset ``write_avi`` produces plus any conforming
    8-bit BI_RGB grayscale stream; raises naming the field on anything
    else (compressed corpora use the PyAV decoder)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    end = 8 + struct.unpack_from("<I", buf, 4)[0]

    stream_types: list[bytes] = []  # fccType per stream index
    fps = 0.0
    sr = 16000
    height = width = 0
    bitcount = compression = None
    movi_ranges: list[tuple[int, int]] = []

    def walk_strl(off: int, size: int) -> None:
        nonlocal fps, sr, height, width, bitcount, compression
        fcc_type = None
        for c, o, s in _iter_chunks(buf, off, off + size):
            if c == b"strh":
                fcc_type, _handler = struct.unpack_from("<4s4s", buf, o)
                scale, rate = struct.unpack_from("<II", buf, o + 20)
                stream_types.append(fcc_type)
                if fcc_type == b"vids":
                    if not scale or not rate:
                        raise ValueError("vids strh without dwScale/dwRate")
                    fps = rate / scale
                elif fcc_type == b"auds":
                    scale = scale or 1
                    sr = rate // scale
            elif c == b"strf" and fcc_type == b"vids":
                (_bi, width, height, _pl, bitcount, compression) = (
                    struct.unpack_from("<IiiHHI", buf, o)
                )
                if compression == _MJPG:
                    pass  # frame dims/precision come from each JPEG
                elif bitcount != 8 or compression != 0:
                    raise ValueError(
                        f"unsupported video format: biBitCount={bitcount} "
                        f"biCompression={compression} (only 8-bit BI_RGB "
                        "or MJPG)"
                    )
            elif c == b"strf" and fcc_type == b"auds":
                tag, ch, rate_, _, _, bits = struct.unpack_from("<HHIIHH", buf, o)
                if tag != 1 or ch != 1 or bits != 16:
                    raise ValueError(
                        f"unsupported audio format: tag={tag} channels={ch} "
                        f"bits={bits} (only mono 16-bit PCM)"
                    )
                sr = rate_

    def walk(off: int, size: int) -> None:
        for c, o, s in _iter_chunks(buf, off, off + size):
            if c == b"LIST":
                lt = buf[o : o + 4]
                if lt in (b"hdrl", b"strl"):
                    (walk_strl if lt == b"strl" else walk)(o + 4, s - 4)
                elif lt == b"movi":
                    movi_ranges.append((o + 4, s - 4))

    walk(12, end - 12)
    if not fps or not height or not width:
        raise ValueError("AVI stream has no parseable vids header")

    mjpeg = compression == _MJPG
    stride = (width + 3) & ~3
    frames: list[np.ndarray] = []
    audio_parts: list[np.ndarray] = []

    def _declared(stream_no: int, want: bytes) -> bool:
        # honor the strh-declared stream type when the index is in
        # range; chunks of undeclared streams fall back to the fourcc
        # suffix convention (db/dc video, wb audio)
        if 0 <= stream_no < len(stream_types):
            return stream_types[stream_no] == want
        return True

    def walk_movi(off: int, stop: int) -> None:
        for c, o, s in _iter_chunks(buf, off, stop):
            if c == b"LIST" and buf[o : o + 4] == b"rec ":
                # interleaved AVIs group each frame's chunks in a
                # 'rec ' list — recurse, or conforming files decode
                # to zero frames
                walk_movi(o + 4, o + s)
                continue
            stream_no = int(c[:2]) if c[:2].isdigit() else -1
            kind = c[2:]
            if kind in (b"db", b"dc") and stream_no >= 0:
                if not _declared(stream_no, b"vids"):
                    continue
                if mjpeg:
                    from .jpeg import decode_gray_jpeg

                    frames.append(decode_gray_jpeg(buf[o : o + s]))
                    continue
                rows = np.frombuffer(buf, dtype=np.uint8, count=s, offset=o)
                rows = rows.reshape(height, stride)[:, :width]
                frames.append(rows[::-1].copy())  # bottom-up -> top-down
            elif kind == b"wb":
                if not _declared(stream_no, b"auds"):
                    continue
                audio_parts.append(
                    np.frombuffer(buf, dtype="<i2", count=s // 2, offset=o)
                )

    for mo, ms in movi_ranges:
        walk_movi(mo, mo + ms)
    samples = (
        np.concatenate(audio_parts) if audio_parts else np.zeros(0, dtype=np.int16)
    )
    return frames, fps, samples, sr
