"""S7: parquet stage checkpoints replacing the reference's pickles.

The reference serializes every stage boundary to ``pywork/*.pckl``
(scene/faces/tracks/scores — demoTalkNet.py:104-541). Here each stage
checkpoint is a parquet dataset partitioned by ``video_id``, which:

- survives restarts (pipeline stages are resumable per video);
- keeps downstream per-video operators shuffle-free (partition
  pruning on the video_id directory + AQE coalescing);
- is readable by any engine (the DuckDB oracle included).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def checkpoint(df: DataFrame, root: str, stage: str) -> str:
    """Write (overwrite) one stage table, partitioned by ``video_id``
    when the stage has one; returns its path."""
    path = os.path.join(root, stage)
    w = df.write.mode("overwrite")
    if "video_id" in df.columns:
        w = w.partitionBy("video_id")
    w.parquet(path)
    return path


def restore(spark: SparkSession, root: str, stage: str, schema=None) -> DataFrame:
    """Read a stage checkpoint back (reference readback
    extractSpeakingSegments.py:34-38).

    Pass ``schema`` (e.g. from schemas.TABLES) when the stage can be
    legitimately empty: a partitioned write of zero rows produces only
    _SUCCESS, and schema inference then fails (UNABLE_TO_INFER_SCHEMA).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(os.path.join(root, stage))


def has_stage(root: str, stage: str) -> bool:
    """Cheap resume check (the reference's copy-if-absent idiom)."""
    return os.path.exists(os.path.join(root, stage, "_SUCCESS"))
