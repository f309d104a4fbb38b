"""Speaking-segment extraction: the reference's defining query.

Reference semantics (extractSpeakingSegments.py:44-61,98-99 and
demoTalkNet.py:284-299):

- booleanize ``score > threshold`` per ordered frame (STRICT ``>``,
  default threshold 0.0) — F5;
- emit maximal True-runs as ``(start_frame, end_frame)`` with the end
  EXCLUSIVE (run closed at track end) — W1 gaps-and-islands;
- keep a run iff ``end - start >= int(min_duration * fps)`` — F6;
- times are ``frame / fps`` with fps = 25 — X10.

Scale notes: one window + one aggregation, both partitioned by the
track key — a single hash shuffle on (video_id, track_id). No
driver-side state; AQE coalesces the tiny post-agg partitions. At
100 TB the only hot spot is a single very long track, which the
partition-by-track window already isolates to one task per track
(tracks are scene-bounded in the reference, so bounded size).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_FPS = 25.0
DEFAULT_THRESHOLD = 0.0
DEFAULT_MIN_DURATION_S = 0.5  # reference batchProcessVideos.py:22


def speaking_flag(score_col: str | Column = "score", threshold: float = DEFAULT_THRESHOLD) -> Column:
    """F5: strict-> threshold booleanization (extractSpeakingSegments.py:46)."""
    c = F.col(score_col) if isinstance(score_col, str) else score_col
    return c > F.lit(threshold)


def gaps_and_islands(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    flag_col: str = "flag",
    island_col: str = "island",
) -> DataFrame:
    """W1 core: assign a run id (``island``) to each maximal run of equal
    ``flag`` values within an ordered partition.

    Classic lag/cumsum formulation: a row starts a new island iff its
    flag differs from the previous row's (or it is first). Both windows
    share one partitioning => single shuffle.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    prev = F.lag(flag_col).over(w)
    chg = F.when(prev.isNull() | (prev != F.col(flag_col)), F.lit(1)).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(island_col, F.sum(chg).over(wrun))


def extract_segments(
    scores: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
    min_duration_s: float = DEFAULT_MIN_DURATION_S,
    fps: float = DEFAULT_FPS,
) -> DataFrame:
    """Full W1 + F5 + F6 + X10 pipeline: per-frame ``score`` rows keyed
    by (video_id, track_id, frame_idx) -> segments table (FIXTURES.md
    §6 schema).

    ``end_frame`` is exclusive (max frame in run + 1,
    extractSpeakingSegments.py:57-59); min length keeps runs with
    ``end - start >= int(min_duration_s * fps)`` frames
    (extractSpeakingSegments.py:98-99); ``seg_id`` is 0-based per
    track in frame order (extractSpeakingSegments.py:108).
    """
    min_frames = int(min_duration_s * fps)
    track = ("video_id", "track_id")
    flagged = scores.withColumn("_speaking", speaking_flag("score", threshold))
    runs = gaps_and_islands(
        flagged, track, ["frame_idx"], flag_col="_speaking", island_col="_island"
    )
    segs = (
        runs.filter(F.col("_speaking"))
        .groupBy(*track, "_island")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            (F.max("frame_idx") + F.lit(1)).alias("end_frame"),
        )
        .filter((F.col("end_frame") - F.col("start_frame")) >= F.lit(min_frames))
    )
    wseg = Window.partitionBy(*track).orderBy("start_frame")
    return (
        segs.withColumn("seg_id", (F.row_number().over(wseg) - F.lit(1)))
        .withColumn("start_ts", F.col("start_frame") / F.lit(fps))
        .withColumn("end_ts", F.col("end_frame") / F.lit(fps))
        .withColumn("duration", (F.col("end_frame") - F.col("start_frame")) / F.lit(fps))
        .select(
            *track,
            "seg_id",
            "start_frame",
            "end_frame",
            "start_ts",
            "end_ts",
            "duration",
        )
    )
