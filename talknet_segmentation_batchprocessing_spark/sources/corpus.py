"""S1/S2/S14: video-corpus enumeration sources.

The reference globs a folder case-insensitively for
``mp4 avi mov mkv`` (batchProcessVideos.py:93-106) or iterates a
streaming dataset sample-by-sample (batchProcessVideos.py:111-124).
Here a corpus is a DataFrame, one row per video, produced by the
``binaryFile`` source — on a cluster this scans object storage in
parallel and never pulls payloads to the driver.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VIDEO_EXTENSIONS = ("mp4", "avi", "mov", "mkv")  # batchProcessVideos.py:24


def scan_video_folder(
    spark: SparkSession,
    folder: str,
    extensions: Iterable[str] = VIDEO_EXTENSIONS,
    with_content: bool = False,
) -> DataFrame:
    """S1: one row per video file under ``folder``.

    Case-insensitive extension match like the reference's
    ``ext.lower()/ext.upper()`` double glob (batchProcessVideos.py:96-100),
    expressed as a glob character class per letter so ONE listing pass
    covers both. ``with_content=False`` prunes the binary payload at
    the scan (column pruning — only metadata is read).
    """
    frames = []
    for ext in extensions:
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


def iter_dataset_source(
    spark: SparkSession,
    samples: Iterator[Mapping] | Iterable[Mapping],
    schema: str = "video_id string, path string, byte_len long",
    batch_size: int = 1000,
    spill_dir: str | None = None,
) -> DataFrame:
    """S2: adapt a sequential sample iterator (the reference's HF
    streaming loop, batchProcessVideos.py:111-124) into a DataFrame.

    The iterator is driver-side by nature (that is what 'streaming
    dataset' means in the reference); rows are consumed lazily with
    ``itertools.islice`` in ``batch_size`` chunks, so the transient
    raw-Python peak is one batch. Memory contract — be precise,
    because the two modes differ:

    - ``spill_dir=None`` (default): each batch becomes a
      driver-held LocalRelation and the chained union references all
      of them until evaluation, so TOTAL driver memory is still
      O(total rows). Fine for bounded manifests (the reference's use
      is file listings), NOT for corpus-sized iterators.
    - ``spill_dir`` set: each batch is appended to parquet as it is
      consumed and the result is a plain scan of that directory —
      driver memory is bounded by one batch regardless of corpus
      size. This is the corpus-scale path.
    """
    it = iter(samples)
    if spill_dir is not None:
        wrote = False
        while True:
            batch = list(itertools.islice(it, batch_size))
            if not batch:
                break
            spark.createDataFrame(batch, schema).write.mode("append").parquet(
                spill_dir
            )
            wrote = True
        if not wrote:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(spill_dir)
    out = None
    while True:
        batch = list(itertools.islice(it, batch_size))
        if not batch:
            break
        chunk = spark.createDataFrame(batch, schema)
        out = chunk if out is None else out.unionByName(chunk)
    if out is None:
        return spark.createDataFrame([], schema)
    return out


def write_if_absent(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S14: idempotent materialization — the reference's copy-if-absent
    (batchProcessVideos.py:53-55 ``shutil.copy2`` skip) maps to Spark's
    ``mode("ignore")`` (no-op when the target exists)."""
    df.write.format(fmt).mode("ignore").save(path)
