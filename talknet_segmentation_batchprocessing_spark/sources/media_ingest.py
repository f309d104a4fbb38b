"""S3/S4/S5: media ingest shells — video normalize, audio extract,
frame explode.

The reference shells out to ffmpeg per video (demoTalkNet.py:485-508:
transcode to 25 fps, 16 kHz mono pcm_s16le audio, one JPEG per frame).
Here each step is a ``mapInPandas`` shell over video rows: the Spark
side (schemas, partitioning, Arrow batch shape, time base) is real and
tested; the codec call itself is pluggable because this container has
no ffmpeg/PyAV/cv2 — ``decoder=None`` selects a deterministic fake
that synthesizes frames/samples from the video bytes, so the plumbing
and every downstream operator can run end-to-end.

A production deployment passes ``decoder=pyav_decoder`` (or an ffmpeg
subprocess wrapper) with the same signature.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import FPS, SAMPLE_RATE

# decoder signature: (video_id: str, content: bytes | None) ->
#   (frames: list[bytes], height: int, width: int, samples: np.ndarray[int16])
Decoder = Callable[[str, bytes | None], tuple[list[bytes], int, int, np.ndarray]]

FRAMES_SCHEMA = (
    "video_id string, frame_idx int, ts double, image binary, height int, width int"
)
AUDIO_SCHEMA = "video_id string, chunk_idx int, sr int, samples array<smallint>"


def _cfr_nearest(times: np.ndarray, fps: float) -> np.ndarray:
    """CFR resample onto the ``fps`` grid: for each tick, the index of the
    nearest source frame of the sorted ``times`` (seconds from the first
    frame). ffmpeg ``-r`` duplicates stills across gaps and drops bursts,
    which nearest-pts reproduces. Distances are compared in integer
    half-tick units so an equidistant tick resolves to the EARLIER frame
    exactly, never by float ulp; sub-half-tick pts detail only matters
    for sources faster than 2*fps, where either neighbor is a valid
    representative."""
    if len(times) < 2:
        return np.arange(len(times))
    ht = np.round(times * fps * 2).astype(np.int64)
    grid = np.arange(0, ht[-1] + 1, 2)  # ticks at even half-ticks
    pos = np.clip(np.searchsorted(ht, grid), 1, len(ht) - 1)
    left_closer = (grid - ht[pos - 1]) <= (ht[pos] - grid)
    return np.where(left_closer, pos - 1, pos)


def fake_decoder(n_frames: int = 50) -> Decoder:
    """Deterministic stand-in for ffmpeg/PyAV: 8x8 frame pixels and
    audio samples are seeded from sha256(video_id), so every executor —
    and every rerun — produces identical output for the same input."""

    def decode(video_id: str, content: bytes | None):
        seed = int.from_bytes(hashlib.sha256(video_id.encode()).digest()[:4], "big")
        rng = np.random.RandomState(seed)
        frames = [
            rng.randint(0, 256, size=(8, 8), dtype=np.uint8).tobytes()
            for _ in range(n_frames)
        ]
        n_samples = int(n_frames / FPS * SAMPLE_RATE)
        samples = rng.randint(-(2**15), 2**15, size=n_samples, dtype=np.int16)
        return frames, 8, 8, samples

    return decode


def pyav_decoder(fps: float = FPS, sr: int = SAMPLE_RATE) -> Decoder:
    """Real decoder via PyAV (requires the ``av`` package; not in this
    image — the import is guarded and the body is exercised in tests
    through a stub ``av`` module).

    Reference semantics (demoTalkNet.py:485-508):
      - video transcoded to constant 25 fps (``-r 25`` CFR: nearest
        source frame per grid tick, duplicating/dropping as needed),
        grayscale;
      - audio to 16 kHz mono ``pcm_s16le`` (demoTalkNet.py:497-502,
        utils/tools.py:92-102).
    """
    try:
        import av
    except ImportError as e:  # pragma: no cover - env without PyAV
        raise NotImplementedError(
            "PyAV is not installed in this environment; pass a custom "
            "decoder or use fake_decoder() for plumbing tests"
        ) from e

    from io import BytesIO

    def decode(video_id: str, content: bytes | None):
        if content is None:
            raise ValueError(
                f"pyav_decoder needs video bytes for {video_id!r}; "
                "read the corpus with a 'content' column (binaryFile)"
            )

        # --- video pass: decode all frames with their pts, grayscale
        raw: list[tuple[float, np.ndarray]] = []
        with av.open(BytesIO(content)) as container:
            if container.streams.video:
                vstream = container.streams.video[0]
                vstream.thread_type = "AUTO"
                tb = float(vstream.time_base) if vstream.time_base else 0.0
                for frame in container.decode(vstream):
                    if frame.pts is None:
                        continue
                    raw.append((frame.pts * tb, frame.to_ndarray(format="gray")))

        frames: list[bytes] = []
        height = width = 0
        if raw:
            raw.sort(key=lambda x: x[0])
            height, width = raw[0][1].shape
            times = np.array([t for t, _ in raw])
            frames = [raw[i][1].tobytes() for i in _cfr_nearest(times - times[0], fps)]

        # --- audio pass: resample to 16 kHz mono s16
        chunks: list[np.ndarray] = []
        with av.open(BytesIO(content)) as container:
            if container.streams.audio:
                astream = container.streams.audio[0]
                resampler = av.AudioResampler(format="s16", layout="mono", rate=sr)
                for aframe in container.decode(astream):
                    for rframe in resampler.resample(aframe):
                        chunks.append(
                            rframe.to_ndarray().reshape(-1).astype(np.int16)
                        )
                # flush the resampler's internal buffer
                for rframe in resampler.resample(None):
                    chunks.append(rframe.to_ndarray().reshape(-1).astype(np.int16))
        samples = (
            np.concatenate(chunks) if chunks else np.zeros(0, dtype=np.int16)
        )
        return frames, height, width, samples

    return decode


def riff_decoder(fps: float = FPS, sr: int = SAMPLE_RATE) -> Decoder:
    """REAL decoder for uncompressed RIFF media — no codec library.

    Parses actual container bytes (the ``content`` column from a
    ``binaryFile`` corpus scan) via sources/riff.py: uncompressed
    8-bit-grayscale AVI (frames + optional PCM audio track) or mono
    16-bit PCM WAV (audio only). Output matches the reference's ffmpeg
    normalize contract (demoTalkNet.py:485-508): constant ``fps`` video
    grid (``_cfr_nearest``, the same rule as pyav_decoder)
    and ``sr`` mono int16 audio (nearest-index resample). Unlike
    ``pyav_decoder`` this needs NO optional dependency, so the
    real-bytes ingest path is exercised by tests in this image.
    """
    from .riff import read_avi, read_wav

    def _resample_nearest_audio(samples: np.ndarray, src_sr: int) -> np.ndarray:
        if src_sr == sr or len(samples) == 0:
            return samples.astype(np.int16, copy=False)
        n_out = int(round(len(samples) * sr / src_sr))
        # exact integer nearest: j = round(i * src/dst) half-up
        idx = ((np.arange(n_out, dtype=np.int64) * 2 * src_sr + sr) // (2 * sr))
        return samples[np.clip(idx, 0, len(samples) - 1)].astype(np.int16)

    def decode(video_id: str, content: bytes | None):
        if content is None:
            raise ValueError(
                f"riff_decoder needs media bytes for {video_id!r}; read "
                "the corpus with a 'content' column (binaryFile / "
                "scan_video_folder(with_content=True))"
            )
        if content[:4] != b"RIFF":
            raise ValueError(f"{video_id!r} is not a RIFF container")
        if content[8:12] == b"WAVE":
            samples, src_sr = read_wav(content)
            return [], 0, 0, _resample_nearest_audio(samples, src_sr)
        raw, src_fps, samples, src_sr = read_avi(content)
        height, width = (raw[0].shape if raw else (0, 0))
        # the source is CFR: frame i at i / src_fps seconds
        frames = [raw[i].tobytes() for i in _cfr_nearest(np.arange(len(raw)) / src_fps, fps)]
        return frames, height, width, _resample_nearest_audio(samples, src_sr)

    return decode


def explode_frames(
    videos: DataFrame,
    decoder: Decoder | None = None,
    fps: float = FPS,
) -> DataFrame:
    """S5: video rows -> frames table (one row per frame, ts=idx/fps).

    One video decodes entirely inside one task (frames never transit
    the driver); cross-video parallelism comes from the corpus
    partitioning. Long videos are the skew case — repartition the
    corpus by video_id first and let AQE split stragglers downstream.
    """
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(videos)
    dec = decoder or fake_decoder()
    has_content = "content" in videos.columns
    cols = ["video_id"] + (["content"] if has_content else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = getattr(row, "content", None)
                frames, h, w, _ = dec(row.video_id, content)
                for i, img in enumerate(frames):
                    out.append((row.video_id, i, i / fps, img, h, w))
            yield pd.DataFrame(
                out,
                columns=["video_id", "frame_idx", "ts", "image", "height", "width"],
            )

    return videos.select(*cols).mapInPandas(fn, FRAMES_SCHEMA)


def extract_audio(
    videos: DataFrame,
    decoder: Decoder | None = None,
    sr: int = SAMPLE_RATE,
    chunk_s: float = 1.0,
) -> DataFrame:
    """S4: video rows -> chunked 16 kHz mono int16 audio table.

    Chunked (default 1 s per row) rather than one giant array per
    video so a 3-hour video does not become a 100 MB single row —
    downstream per-track slicing (A7/X6) regroups by time range.
    """
    from ..deploy import ensure_worker_imports

    ensure_worker_imports(videos)
    dec = decoder or fake_decoder()
    has_content = "content" in videos.columns
    cols = ["video_id"] + (["content"] if has_content else [])
    chunk_n = int(sr * chunk_s)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = getattr(row, "content", None)
                _, _, _, samples = dec(row.video_id, content)
                for ci in range(0, max(len(samples), 1), chunk_n):
                    out.append(
                        (row.video_id, ci // chunk_n, sr, samples[ci : ci + chunk_n])
                    )
            yield pd.DataFrame(out, columns=["video_id", "chunk_idx", "sr", "samples"])

    return videos.select(*cols).mapInPandas(fn, AUDIO_SCHEMA)
