"""S1/S14: video-corpus enumeration and copy-if-absent.

The reference globs a folder case-insensitively for
``mp4 avi mov mkv`` (batchProcessVideos.py:93-106). Here a corpus is a
DataFrame, one row per video, produced by the ``binaryFile`` source —
on a cluster this scans object storage in parallel and never pulls
payloads to the driver. The S2 streaming-dataset source is the
``video_corpus`` DataSource in ``sources/datasource.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VIDEO_EXTENSIONS = ("mp4", "avi", "mov", "mkv")  # batchProcessVideos.py:24


def scan_video_folder(
    spark: SparkSession, folder: str, with_content: bool = False
) -> DataFrame:
    """S1: one row per ``VIDEO_EXTENSIONS`` file under ``folder``.

    Case-insensitive extension match like the reference's
    ``ext.lower()/ext.upper()`` double glob (batchProcessVideos.py:96-100),
    expressed as a glob character class per letter so ONE listing pass
    covers both. ``with_content=False`` prunes the binary payload at
    the scan (column pruning — only metadata is read).
    """
    frames = []
    for ext in VIDEO_EXTENSIONS:
        cls = "".join(f"[{c.lower()}{c.upper()}]" for c in ext)
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", f"*.{cls}")
            .load(folder)
        )
        frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    cols = [
        F.col("path"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.lower(F.element_at(F.split(F.col("path"), r"\."), -1)).alias("ext"),
        F.col("length").alias("byte_len"),
        F.col("modificationTime").alias("modified_at"),
    ]
    if with_content:
        cols.append(F.col("content"))
    return out.select(*cols).withColumn(
        "video_id", F.regexp_replace("file_name", r"\.[^.]+$", "")
    )


def write_if_absent(df: DataFrame, path: str) -> None:
    """S14: idempotent parquet materialization — the reference's
    copy-if-absent (batchProcessVideos.py:53-55 ``shutil.copy2`` skip)
    maps to Spark's ``mode("ignore")`` (no-op when the target exists)."""
    df.write.format("parquet").mode("ignore").save(path)
