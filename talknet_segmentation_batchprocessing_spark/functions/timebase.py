"""X10: frame <-> seconds arithmetic on the 25 fps time base.

Reference: ``t = f / 25`` (extractSpeakingSegments.py:65-67,126),
fps remap ``int(f / 29.97 * 25)`` for Columbia labels
(demoTalkNet.py:384).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FPS = 25.0


def frame_to_seconds(frame: Column | str, fps: float = FPS) -> Column:
    c = F.col(frame) if isinstance(frame, str) else frame
    return c / F.lit(fps)


def remap_fps(frame: Column | str, src_fps: float, dst_fps: float = FPS) -> Column:
    """``int(frame / src_fps * dst_fps)`` — truncation, not rounding
    (demoTalkNet.py:384)."""
    c = F.col(frame) if isinstance(frame, str) else frame
    return F.floor(c / F.lit(src_fps) * F.lit(dst_fps)).cast("int")
