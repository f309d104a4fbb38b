"""Bucketed parquet tables: the co-located-join storage layout.

At 100 TB the dominant join cost is the shuffle of the big fact table.
Spark's bucketing (hive-style ``bucketBy`` on saveAsTable) pre-hashes
rows into a fixed number of buckets per table file-set; two tables
bucketed on the SAME key with the SAME bucket count join with ZERO
exchange on either side — the sort-merge join reads matching buckets
directly (``spark.sql.sources.bucketing.enabled``, on by default).
``sortBy`` additionally pre-sorts within buckets so the join skips its
sort too.

This is the storage-level sibling of plans/two_phase (compute-level)
and plans/skew (runtime-level): pay the shuffle ONCE at write time,
amortized over every subsequent join/aggregation on the key. The
reference engine has no analog (single-node, in-memory); this is pure
Spark-first scale posture.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Write (overwrite) ``df`` as a bucketed (optionally bucket-sorted)
    parquet table. ``path`` makes it external (kept out of the default
    warehouse); bucketed writes REQUIRE ``saveAsTable`` — bucket
    metadata lives in the catalog, not the files."""
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
