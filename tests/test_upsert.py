"""MERGE INTO semantics of merge_frames (u5_merge_upsert's operator)."""

from __future__ import annotations

from talknet_segmentation_batchprocessing_spark.queries.setops import merge_frames


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
