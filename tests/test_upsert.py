"""MERGE INTO / versioned upsert: semantics + crash-safe publish."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark.sources.upsert import (
    current_version,
    init_table,
    merge_frames,
    merge_into,
    read_table,
)


def test_merge_frames_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    updates = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k long, s string, v long"
    )
    got = {r.k: r for r in merge_frames(target, updates, "k").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[1].s, got[1].v, got[1].merge_action) == ("a", 10, "kept")
    assert (got[2].s, got[2].v, got[2].merge_action) == ("B", 200, "updated")
    assert (got[3].merge_action) == "kept"
    assert (got[4].s, got[4].v, got[4].merge_action) == ("d", 40, "inserted")


def test_versioned_merge_into_and_atomic_pointer(spark, tmp_path):
    table = str(tmp_path / "tbl")
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    assert init_table(base, table) == 0
    assert current_version(table) == 0

    up1 = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    assert merge_into(spark, table, up1, "k") == 1
    t1 = read_table(spark, table)
    assert t1.count() == 110
    assert t1.filter("v = -1").count() == 20
    assert t1.filter("k < 90 AND v = -1").count() == 0

    # both versions coexist on disk; the pointer decides what readers see
    assert os.path.isdir(os.path.join(table, "v0"))
    assert os.path.isdir(os.path.join(table, "v1"))
    assert spark.read.parquet(os.path.join(table, "v0")).count() == 100

    # crash between data write and publish: a stray v2 dir with no
    # pointer update must be invisible to readers
    spark.range(0, 5).select(F.col("id").alias("k"), F.col("id").alias("v")).write.parquet(
        os.path.join(table, "v2")
    )
    assert current_version(table) == 1
    assert read_table(spark, table).count() == 110


def test_merge_frames_update_can_set_null(spark):
    """ADVICE r4: matched rows take the update's values INCLUDING
    explicit NULLs — per-column coalesce would silently keep 'b'."""
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, v long"
    )
    updates = spark.createDataFrame([(2, None, 200)], "k long, s string, v long")
    got = {r.k: r for r in merge_frames(target, updates, "k").collect()}
    assert got[2].s is None and got[2].v == 200
    assert got[2].merge_action == "updated"
    assert (got[1].s, got[1].merge_action) == ("a", "kept")


def test_merge_into_rejects_duplicate_update_keys(spark, tmp_path):
    """SQL MERGE raises on multiple matches; merge_into enforces it."""
    import pytest

    table = str(tmp_path / "tbl")
    init_table(
        spark.createDataFrame([(1, 10)], "k long, v long"), table
    )
    dup = spark.createDataFrame([(1, 11), (1, 12)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(spark, table, dup, "k")
    # failed merge publishes nothing
    assert current_version(table) == 0


def test_claim_is_single_winner_before_any_write(spark, tmp_path):
    """Two racing writers that read the same base version: the second
    CLAIM of v1 must fail loudly BEFORE any data write could clobber
    the winner's files (lost-update prevention, not just
    lost-publish)."""
    import pytest

    from talknet_segmentation_batchprocessing_spark.sources.upsert import (
        ConcurrentWriteError,
        _claim,
    )

    table = str(tmp_path / "tbl")
    init_table(spark.createDataFrame([(1, 10)], "k long, v long"), table)
    _claim(table, 1)
    with pytest.raises(ConcurrentWriteError):
        _claim(table, 1)
    assert current_version(table) == 0


def test_crashed_claim_recovers(spark, tmp_path):
    """A writer that crashed between claim and publish leaves an orphan
    marker; the table stays readable, the next merge fails loudly, and
    recover() restores writability without touching published data."""
    import pytest

    from talknet_segmentation_batchprocessing_spark.sources.upsert import (
        ConcurrentWriteError,
        _claim,
        recover,
    )

    table = str(tmp_path / "tbl")
    init_table(spark.createDataFrame([(1, 10)], "k long, v long"), table)
    _claim(table, 1)  # simulated crash: claim exists, never published
    assert read_table(spark, table).count() == 1  # still readable at v0
    up = spark.createDataFrame([(2, 20)], "k long, v long")
    with pytest.raises(ConcurrentWriteError):
        merge_into(spark, table, up, "k")
    assert recover(table) == [1]
    assert merge_into(spark, table, up, "k") == 1
    assert read_table(spark, table).count() == 2


def test_merge_frames_null_keyed_rows_keep_payload(spark):
    """A NULL merge key never joins; rows with NULL keys on either side
    must keep their OWN payload (side-presence sentinels, not key
    nullness)."""
    target = spark.createDataFrame([(None, "t", 1)], "k long, s string, v long")
    updates = spark.createDataFrame([(None, "u", 2)], "k long, s string, v long")
    got = sorted(
        merge_frames(target, updates, "k").collect(), key=lambda r: r.s
    )
    assert [(r.s, r.v, r.merge_action) for r in got] == [
        ("t", 1, "kept"),
        ("u", 2, "inserted"),
    ]


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (crash after merge, before checkpoint
    commit) re-merges the same (user_id, version) keys to the same
    values: the table content is unchanged — only the version counter
    advances."""
    from talknet_segmentation_batchprocessing_spark.sources.upsert import (
        merge_into,
    )

    table = str(tmp_path / "scd2_tbl")
    schema = (
        "user_id long, version long, event_type string, "
        "valid_from_us long, valid_to_us long, n_events long, "
        "uid_ver string"
    )
    init_table(spark.createDataFrame([], schema), table)
    batch = spark.createDataFrame(
        [
            (1, 1, "view", 100, 200, 3, "1:1"),
            (1, 2, "click", 200, -1, 1, "1:2"),
            (2, 1, "view", 150, -1, 5, "2:1"),
        ],
        schema,
    )
    merge_into(spark, table, batch, on="uid_ver")
    v1 = current_version(table)
    first = sorted(
        tuple(r) for r in read_table(spark, table).drop("merge_action").collect()
    )
    merge_into(spark, table, batch, on="uid_ver")  # the replay
    v2 = current_version(table)
    second = sorted(
        tuple(r) for r in read_table(spark, table).drop("merge_action").collect()
    )
    assert second == first
    assert v2 == v1 + 1  # a new version was published, same content
