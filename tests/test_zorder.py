"""Z-order curve value (functions/zorder.z_value, behind x21_zorder_value):
bit interleaving, quadrant locality and exact decodability."""

from __future__ import annotations

from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark.functions.zorder import z_value


def test_z_value_interleaves_bits(spark):
    rows = (
        spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (3, 5), (4095, 4095)], "x long, y long"
        )
        .select("x", "y", z_value("x", "y").alias("z"))
        .collect()
    )
    def ref(x, y):
        z = 0
        for i in range(12):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z
    for r in rows:
        assert r.z == ref(r.x, r.y), (r.x, r.y, r.z)


def test_z_value_monotone_locality(spark):
    """Same x-halves / y-halves land in the same z quadrant: the top
    interleaved bits are the top bits of x and y."""
    df = spark.range(0, 4096).select(
        (F.col("id") % 64 * 64).alias("x"),
        F.expr("(id div 64) * 64").alias("y"),
    )
    got = df.select("x", "y", z_value("x", "y").alias("z")).collect()
    for r in got:
        # quadrant = top bit of each 12-bit key, at z positions 22/23
        assert (r.z >> 22) & 1 == (r.x >> 11) & 1
        assert (r.z >> 23) & 1 == (r.y >> 11) & 1


def test_z_value_bijective_on_12bit_pairs(spark):
    """Round-trip: decode the interleave and recover (x, y) exactly for
    a spread of pairs across the full 12-bit range."""
    df = spark.range(0, 2048).select(
        ((F.col("id") * 37) % 4096).alias("x"),
        ((F.col("id") * 101 + 5) % 4096).alias("y"),
    )
    rows = df.select("x", "y", z_value("x", "y").alias("z")).collect()
    for r in rows:
        x = y = 0
        for i in range(12):
            x |= ((r.z >> (2 * i)) & 1) << i
            y |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r.x, r.y)
