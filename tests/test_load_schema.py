"""``registry.load`` derives a single-file table's schema from its
parquet footer instead of running Spark's inference job. A wrong
supplied schema silently reads NULLs, so the derived schema must equal
the inferred one (names, types, nullability) on every table the
engine reads, and every switch in the derivation is pinned on both
sides against plain ``spark.read.parquet``."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from talknet_segmentation_batchprocessing_spark import registry

from .conftest import SF_SMOKE, TABLES, TESTDATA

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _rows(df):
    return sorted(df.collect(), key=repr)


def _same_as_plain(spark, d, name):
    """load(d, name) returns plain spark.read.parquet's schema and rows."""
    plain = spark.read.parquet(f"{d}/{name}.parquet")
    got = registry.load(spark, str(d), name)
    assert got.schema == plain.schema
    assert _rows(got) == _rows(plain)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_footer_schema_equals_inferred(spark, tmp_path, monkeypatch, sf):
    if sf == "perfbench":
        monkeypatch.syspath_prepend(str(PERFBENCH))
        import tables

        d = str(tmp_path)
        tables.write_tables(d, 0.001, 42)
    else:
        d = f"{TESTDATA}/{sf}"
        if not os.path.isdir(d):
            pytest.skip(f"{d} is missing")
    for name in TABLES:
        path = f"{d}/{name}.parquet"
        assert registry._footer_schema(spark, path) == spark.read.parquet(path).schema, name


def test_nanos_ts_reads_as_long_then_converts(spark, tmp_path):
    """(a) INT64 TIMESTAMP(NANOS) ``ts``: derived as long, as Spark reads
    it under nanosAsLong, then load's timestamp_micros branch."""
    us = [1_700_000_000_123_456, 1_700_000_100_000_001]
    ts = pa.array([u * 1000 for u in us], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), tmp_path / "events.parquet")
    path = str(tmp_path / "events.parquet")

    plain = spark.read.parquet(path)
    assert registry._footer_schema(spark, path) == plain.schema
    assert plain.schema["ts"].dataType == T.LongType()
    got = registry.load(spark, str(tmp_path), "events")
    want = plain.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert [r[0] for r in got.orderBy("event_id").select(F.unix_micros("ts")).collect()] == us


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_tzless_micros_follows_infer_ntz(spark, tmp_path, ntz):
    """(b) tz-less timestamp[us]: TIMESTAMP_NTZ or TIMESTAMP, as the
    session's inferTimestampNTZ conf says."""
    ts = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5, 678901), None], pa.timestamp("us"))
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int32()), "ts": ts}), tmp_path / "t.parquet")
    old = spark.conf.get(NTZ)
    spark.conf.set(NTZ, ntz)
    try:
        path = str(tmp_path / "t.parquet")
        want = T.TimestampNTZType() if ntz == "true" else T.TimestampType()
        derived = registry._footer_schema(spark, path)
        assert derived is not None and derived["ts"].dataType == want
        assert derived == spark.read.parquet(path).schema
        _same_as_plain(spark, tmp_path, "t")
    finally:
        spark.conf.set(NTZ, old)


_OUTSIDE = {
    "date32": pa.array([dt.date(2024, 1, 2), None], pa.date32()),
    "bool": pa.array([True, None]),
    "decimal128": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(9, 2)),
    "list_float_not_null": pa.array(
        [[1.5], []], pa.list_(pa.field("element", pa.float32(), nullable=False))
    ),
}


@pytest.mark.parametrize("kind", sorted(_OUTSIDE) + ["int96"])
def test_type_outside_verified_set_infers(spark, tmp_path, kind):
    """(c) a column type outside the verified set (or an INT96 timestamp,
    which pyarrow shows as timestamp[ns]) takes the inference path."""
    path = str(tmp_path / "t.parquet")
    if kind == "int96":
        x = pa.array([dt.datetime(2024, 1, 2, 3, 4, 5), None], pa.timestamp("us"))
        pq.write_table(pa.table({"k": [1, 2], "x": x}), path, use_deprecated_int96_timestamps=True)
    else:
        pq.write_table(pa.table({"k": [1, 2], "x": _OUTSIDE[kind]}), path)
    assert registry._footer_schema(spark, path) is None
    _same_as_plain(spark, tmp_path, "t")


def test_directory_table_infers(spark, tmp_path):
    """(c) a Spark-written directory table takes the inference path."""
    d = tmp_path / "t.parquet"
    spark.range(6).selectExpr("id", "cast(id as string) s").repartition(2).write.parquet(str(d))
    assert registry._footer_schema(spark, str(d)) is None
    _same_as_plain(spark, tmp_path, "t")


def test_load_runs_no_spark_job(spark):
    """A single-file load starts no job; plain inference starts one."""
    sc = spark.sparkContext

    def jobs(fn):
        group = uuid.uuid4().hex
        sc.setJobGroup(group, "load schema")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    path = f"{SF_SMOKE}/orders.parquet"
    assert jobs(lambda: spark.read.parquet(path)) != []
    assert jobs(lambda: registry.load(spark, SF_SMOKE, "orders")) == []
