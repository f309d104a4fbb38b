"""Salted aggregation / join equivalence tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_salted_agg_matches_plain(spark):
    from talknet_segmentation_batchprocessing_spark.plans.skew import salted_agg

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plain = (
        ev.groupBy("user_id")
        .agg(F.sum("value").alias("sum_value"), F.count("*").alias("cnt"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    salted = (
        salted_agg(
            ev,
            ["user_id"],
            {"sum_value": (F.sum("value"), F.sum), "cnt": (F.count("*"), F.sum)},
            n_salts=8,
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert plain.cnt.tolist() == salted.cnt.tolist()
    assert (abs(plain.sum_value - salted.sum_value) < 1e-6).all()


def test_salted_agg_explicit_merge_ignores_alias_names(spark):
    """Aliases that used to trip substring-based merge inference
    ('max_count' contains both, 'n_events' contains neither) now merge
    by their explicit functions regardless of the name."""
    from talknet_segmentation_batchprocessing_spark.plans.skew import salted_agg

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plain = (
        ev.groupBy("user_id")
        .agg(F.min("value").alias("n_events"), F.max("value").alias("max_count"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    salted = (
        salted_agg(
            ev,
            ["user_id"],
            {"n_events": (F.min("value"), F.min), "max_count": (F.max("value"), F.max)},
            n_salts=8,
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert plain.n_events.tolist() == salted.n_events.tolist()
    assert plain.max_count.tolist() == salted.max_count.tolist()
