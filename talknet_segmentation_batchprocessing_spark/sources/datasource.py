"""S2: custom Python DataSource (Spark 4 DataSource API) for a video
corpus — the idiomatic replacement for the reference's driver-side
streaming-dataset iterator (batchProcessVideos.py:111-124).

Batch: one InputPartition per video file — listing happens once at
planning, payload reads happen executor-side in parallel, and the
source composes with the whole DataFrame surface:

    spark.dataSource.register(VideoCorpusDataSource)
    df = (spark.read.format("video_corpus")
          .option("path", folder).option("with_content", "true").load())

Streaming: the same format under ``readStream`` is the TRUE
incremental S2 — a rate-limited sequential consumer with exactly-once
restart semantics, the end-to-end analog of the reference's
``for sample in dataset: download; process`` loop (rate limit =
``max_files_per_batch`` per micro-batch instead of a sleep):

    stream = (spark.readStream.format("video_corpus")
              .option("path", folder)
              .option("max_files_per_batch", "2").load())

Offsets are an INDEX into the lexicographically sorted listing, so a
restart resumes exactly after the last committed sample (checkpointed
by the engine); like the reference's sequential iterator this assumes
monotonic arrival order — zero-padded sequence names, which its
download loop produces. The simple stream reader runs driver-side by
design (rate-limited ingest is low-throughput; heavy decode happens
downstream in executors via explode_frames).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .corpus import VIDEO_EXTENSIONS

_SCHEMA = "video_id string, path string, ext string, byte_len long, content binary"
_META_SCHEMA = "video_id string, path string, ext string, byte_len long"


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class _Listing:
    """The options, sorted file listing and row generator that the
    batch and the stream reader share."""

    def __init__(self, options):
        self.folder = options.get("path")
        if not self.folder:
            raise ValueError("video_corpus requires .option('path', <folder>)")
        exts = options.get("extensions", ",".join(VIDEO_EXTENSIONS)).split(",")
        self.exts = tuple(e.strip().lower() for e in exts if e.strip())
        self.with_content = str(options.get("with_content", "false")).lower() == "true"

    def _listing(self) -> list[str]:
        return sorted(
            p
            for p in glob.glob(os.path.join(self.folder, "*"))
            if os.path.isfile(p)
            and p.rsplit(".", 1)[-1].lower() in self.exts
        )

    def _rows(self, paths):
        for path in paths:
            name = os.path.basename(path)
            video_id, _, ext = name.rpartition(".")
            size = os.path.getsize(path)
            if self.with_content:
                with open(path, "rb") as f:
                    yield (video_id, path, ext.lower(), size, f.read())
            else:
                yield (video_id, path, ext.lower(), size)


class VideoCorpusReader(_Listing, DataSourceReader):
    def partitions(self):
        return [_FilePartition(p) for p in self._listing()]

    def read(self, partition: _FilePartition):
        yield from self._rows([partition.path])


class VideoCorpusStreamReader(_Listing, SimpleDataSourceStreamReader):
    """Rate-limited incremental consumer (see module docstring).

    Offset = {"index": n} into the sorted listing; ``read`` advances at
    most ``max_files_per_batch`` samples per micro-batch and
    ``readBetweenOffsets`` replays a committed range deterministically
    (the listing is re-sorted, so replay sees the same slice as long
    as names are monotonic — the documented contract)."""

    def __init__(self, options):
        super().__init__(options)
        self.rate = int(options.get("max_files_per_batch", "16"))
        if self.rate < 1:
            raise ValueError("max_files_per_batch must be >= 1")

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        paths = self._listing()
        lo = int(start["index"])
        hi = min(lo + self.rate, len(paths))
        # materialized, not a generator: the engine's prefetch cache
        # copy.copy()s the returned iterator for replay
        return list(self._rows(paths[lo:hi])), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        paths = self._listing()
        return list(self._rows(paths[int(start["index"]) : int(end["index"])]))


class VideoCorpusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "video_corpus"

    def schema(self) -> str:
        with_content = str(self.options.get("with_content", "false")).lower() == "true"
        return _SCHEMA if with_content else _META_SCHEMA

    def reader(self, schema) -> VideoCorpusReader:
        return VideoCorpusReader(self.options)

    def simpleStreamReader(self, schema) -> VideoCorpusStreamReader:
        return VideoCorpusStreamReader(self.options)
