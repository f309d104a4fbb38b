"""Hypothesis property tests for pure-Python kernels: the adaptive-CC
union-find vs the brute-force labeling, and the quotient-split Spearman
identity quality_rank_agreement evaluates on both engines."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(
    st.integers(1, 40).flatmap(
        lambda n: st.lists(
            st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
            max_size=80,
        ).map(lambda es: (n, es))
    )
)
def test_union_find_labels_match_bruteforce(ne):
    from talknet_segmentation_batchprocessing_spark.operators.graph import (
        _union_find_labels,
    )

    from .test_graph import union_find_components

    n, edges = ne
    edges = [(u, v) for u, v in edges if u != v]
    want = union_find_components(n, edges)
    got = _union_find_labels(
        [u for u, _ in edges], [v for _, v in edges]
    )
    for node, lbl in got.items():
        assert want[node] == lbl
    # nodes absent from got are singletons
    touched = set(got)
    for v in range(n):
        if v not in touched:
            assert want[v] == v


# ---------------------------------------------------------------------------
# quality_rank_agreement: the quotient-split Spearman-rho evaluation
# ---------------------------------------------------------------------------


@given(st.data())
@settings(max_examples=400, deadline=None)
def test_spearman_quotient_split_identity(data):
    """The overflow-safe quotient-split form of
    1e6 - round_half_up(6e6 * s2 / (n(n^2-1))) used by
    quality_rank_agreement (both engines) equals the naive product
    form for every (n, s2) in the valid Spearman domain, including the
    ~3e12-doc range where the naive 12e6*s2 product would no longer
    fit DECIMAL(38,0) — and every split intermediate stays under 38
    digits there."""
    n = data.draw(st.integers(min_value=2, max_value=3 * 10**12))
    s2 = data.draw(st.integers(min_value=0, max_value=(n**3 - n) // 3))
    D = n * (n * n - 1)
    naive = 1000000 - (12000000 * s2 + D) // (2 * D)
    a, b = divmod(s2, n)
    n2m1 = n * n - 1
    A = 12000000 * a + n2m1
    M = 2 * n2m1
    qA, rA = divmod(A, M)
    split = 1000000 - (qA + (rA * n + 12000000 * b) // (M * n))
    assert split == naive
    for x in (A, M, rA * n + 12000000 * b, M * n):
        assert x < 10**38
