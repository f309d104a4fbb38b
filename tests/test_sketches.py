"""Sketch-quality tests beyond oracle parity.

The DuckDB oracles for the sketch queries implement the SAME estimator,
so parity alone cannot catch an estimator that is deterministically
wrong on both engines. These tests pin the statistical contract:
accuracy within theory-derived bounds on the real tables, and the
merge laws that make the sketches distributable (partial-aggregate
correctness is WHY they work at 100 TB).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark import registry
from talknet_segmentation_batchprocessing_spark.queries.sketches import (
    _HLL_M,
    _KMV_K,
    _SPARK_RHO,
    _lang_shingle_hashes,
)

from .conftest import SF_CORRECT

registry._ensure_loaded()


@pytest.fixture(scope="module")
def kmv_result(spark):
    return registry.REGISTRY["sketch_kmv_distinct"].fn(spark, SF_CORRECT).collect()


@pytest.fixture(scope="module")
def hll_result(spark):
    return registry.REGISTRY["sketch_hll_distinct"].fn(spark, SF_CORRECT).collect()


def test_kmv_accuracy_within_bounds(kmv_result):
    """KMV stderr is ~1/sqrt(k-2); allow 4 sigma. Also: every group in
    the sf0.01 table is far above k, so the exact fallback must NOT
    have fired (n_est == n_exact everywhere would mean the sketch path
    is dead code at test scale)."""
    sigma = 1.0 / math.sqrt(_KMV_K - 2)
    assert len(kmv_result) > 0
    estimated = 0
    for r in kmv_result:
        assert r.n_exact > _KMV_K, "test data too small to exercise the sketch"
        assert r.rel_err <= 4 * sigma, (
            f"{r.lang}: rel_err {r.rel_err} > 4 sigma ({4 * sigma:.3f})"
        )
        if r.n_est != r.n_exact:
            estimated += 1
    assert estimated > 0, "every estimate exactly equals exact — sketch path dead?"


def test_hll_accuracy_within_bounds(hll_result):
    """HLL stderr is ~1.04/sqrt(m); the raw (uncorrected) estimator
    carries extra bias near 2.5m, so allow 6 sigma."""
    sigma = 1.04 / math.sqrt(_HLL_M)
    for r in hll_result:
        assert r.rel_err <= 6 * sigma, (
            f"{r.lang}: rel_err {r.rel_err} > 6 sigma ({6 * sigma:.3f})"
        )


def test_kmv_merge_law(spark):
    """k-smallest of a union == k-smallest of the two halves' partial
    k-smallest sets — the partial-aggregate identity the docstring
    claims for distributed merging."""
    hashed = (
        _lang_shingle_hashes(spark, SF_CORRECT)
        .filter(F.col("lang") == "en")
        .select("h")
    )
    full = [r.h for r in hashed.orderBy("h").limit(_KMV_K).collect()]
    half_a = [
        r.h
        for r in hashed.filter(F.col("h") % 2 == 0).orderBy("h").limit(_KMV_K).collect()
    ]
    half_b = [
        r.h
        for r in hashed.filter(F.col("h") % 2 == 1).orderBy("h").limit(_KMV_K).collect()
    ]
    merged = sorted(set(half_a) | set(half_b))[:_KMV_K]
    assert merged == full


def test_hll_merge_law(spark):
    """Element-wise register max of two halves' register vectors ==
    the full table's register vector."""
    hashed = (
        _lang_shingle_hashes(spark, SF_CORRECT)
        .filter(F.col("lang") == "en")
        .select("h")
    )

    def regs(df):
        rows = (
            df.groupBy((F.col("h") % _HLL_M).alias("reg"))
            .agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
            .collect()
        )
        return {r.reg: r.rho for r in rows}

    full = regs(hashed)
    ra = regs(hashed.filter(F.col("h") % 3 != 0))
    rb = regs(hashed.filter(F.col("h") % 3 == 0))
    merged: dict[int, int] = {}
    for d in (ra, rb):
        for k, v in d.items():
            merged[k] = max(merged.get(k, 0), v)
    assert merged == full


def test_quantile_sample_bounds_memory_and_tracks_exact(spark):
    """The sampled p90 must stay within the sample's theoretical
    wobble: for a 10% sample of n values, the p90 rank error is
    ~sqrt(p(1-p)/(n*rate)) quantiles; converted to value space the
    testdata's value column is smooth, so just require the estimate
    within 15% of exact (observed <= 6%)."""
    rows = (
        registry.REGISTRY["sketch_quantile_sampled"].fn(spark, SF_CORRECT).collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert abs(r.p90_est - r.p90_exact) / r.p90_exact < 0.15, (
            f"{r.event_type}: sampled p90 {r.p90_est} vs exact {r.p90_exact}"
        )
