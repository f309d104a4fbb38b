"""Hypothesis property tests for the round-5 pure-Python kernels: the
streaming fold state machines must be BATCHING-INVARIANT (folding the
event sequence in any chunking, with state carried between calls,
yields the same final state and the same emitted rows as one pass) —
that invariance is exactly what makes micro-batch boundaries and
restarts semantically invisible. Plus the adaptive-CC union-find vs
the brute-force labeling."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


class _FakeState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


_TYPES = ["view", "click", "purchase", "error", "search", None]


def _events(min_size=0, max_size=40):
    return st.lists(
        st.sampled_from(_TYPES), min_size=min_size, max_size=max_size
    ).map(lambda ts: [(i * 10, t) for i, t in enumerate(ts)])


def _splits(n):
    return st.lists(st.integers(0, max(0, n)), max_size=4).map(
        lambda cuts: sorted(set(c for c in cuts if 0 < c < n))
    )


def _chunk(events, cuts):
    out, prev = [], 0
    for c in cuts + [len(events)]:
        out.append(events[prev:c])
        prev = c
    return [c for c in out if c]


def _run_funnel(chunks):
    from talknet_segmentation_batchprocessing_spark.streaming.funnel import (
        _fold_batch,
    )

    state = _FakeState()
    rows = []
    for ch in chunks:
        pdf = pd.DataFrame(
            {"us": [u for u, _ in ch], "event_type": [t for _, t in ch]}
        )
        rows += [
            tuple(r)
            for out in _fold_batch((1,), iter([pdf]), state)
            for r in out.itertuples(index=False)
        ]
    return state._v, rows


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_funnel_fold_batching_invariant(data):
    events = data.draw(_events(min_size=1))
    cuts = data.draw(_splits(len(events)))
    one_state, one_rows = _run_funnel([events])
    chunked_state, chunked_rows = _run_funnel(_chunk(events, cuts))
    assert chunked_state == one_state
    # the LAST emission (standing funnel row) must agree; chunked runs
    # may emit intermediate stage rows a single pass never surfaces
    if one_rows:
        assert chunked_rows and chunked_rows[-1] == one_rows[-1]
    # and emissions only ever advance the stage
    stages = [r[1] for r in chunked_rows]
    assert stages == sorted(stages)


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


def _run_scd2(chunks):
    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        _fold_batch,
    )

    state = _FakeState()
    rows = []
    for ch in chunks:
        pdf = pd.DataFrame(
            {
                "us": [u for u, _ in ch],
                "event_id": [u for u, _ in ch],
                "event_type": [t for _, t in ch],
            }
        )
        rows += [
            tuple(r)
            for out in _fold_batch((1,), iter([pdf]), state)
            for r in out.itertuples(index=False)
        ]
    return state._v, rows


def _scd2_reference(events):
    """One-pass reference: closed [from, to) intervals of equal-type
    runs, plus the final open interval as state."""
    closed, cur = [], None
    for us, typ in events:
        if cur is None:
            cur = (typ, us, 1, 1)
        elif typ == cur[0]:
            cur = (cur[0], cur[1], cur[2] + 1, cur[3])
        else:
            closed.append((1, cur[3], cur[0], cur[1], us, cur[2]))
            cur = (typ, us, 1, cur[3] + 1)
    return cur, closed


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_scd2_fold_batching_invariant(data):
    """The SCD2 interval fold must emit the same closed intervals in
    the same order under ANY chunking, end in the same open-interval
    state, and match the one-pass reference: chunk boundaries (and
    therefore micro-batch boundaries and restarts) are semantically
    invisible."""
    events = data.draw(
        _events(min_size=0, max_size=40).map(
            lambda es: [(u, t) for u, t in es if t is not None]
        )
    )
    cuts = data.draw(_splits(len(events)))
    one_state, one_rows = _run_scd2([events] if events else [])
    chunked_state, chunked_rows = _run_scd2(_chunk(events, cuts))
    assert chunked_state == one_state
    assert chunked_rows == one_rows
    ref_state, ref_rows = _scd2_reference(events)
    assert one_state == (tuple(ref_state) if ref_state else None) or (
        one_state is None and ref_state is None
    )
    assert one_rows == ref_rows
    # interval algebra: closed intervals tile [first_ts, last_change)
    # with no gaps — each valid_to equals the next valid_from
    for a, b in zip(one_rows, one_rows[1:]):
        assert a[4] == b[3]
        assert a[1] + 1 == b[1]  # versions are consecutive


def _run_scd2_changelog(chunks):
    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        _fold_batch_full,
    )

    state = _FakeState()
    rows = []
    for ch in chunks:
        pdf = pd.DataFrame(
            {
                "us": [u for u, _ in ch],
                "event_id": [u for u, _ in ch],
                "event_type": [t for _, t in ch],
            }
        )
        rows += [
            tuple(r)
            for out in _fold_batch_full((1,), iter([pdf]), state)
            for r in out.itertuples(index=False)
        ]
    return state._v, rows


@settings(max_examples=200, deadline=None)
@given(st.data())
def test_scd2_changelog_table_is_chunking_invariant(data):
    """The changelog's EMISSIONS differ with chunking (an open row per
    touched batch) — but keep-last-merged by (user_id, version) the
    resulting TABLE must be identical under any chunking and equal the
    one-pass reference history: closed rows plus the final open row.
    This is the sink's idempotent-upsert algebra."""
    events = data.draw(
        _events(min_size=1, max_size=40).map(
            lambda es: [(u, t) for u, t in es if t is not None]
        )
    )
    if not events:
        return
    cuts = data.draw(_splits(len(events)))

    def table(chunks):
        _, rows = _run_scd2_changelog(chunks)
        t = {}
        for r in rows:  # r = (uid, ver, type, from, to, n)
            t[(r[0], r[1])] = r
        return t

    one = table([events])
    chunked = table(_chunk(events, cuts))
    assert chunked == one
    ref_open, ref_closed = _scd2_reference(events)
    want = {(r[0], r[1]): r for r in ref_closed}
    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        OPEN_SENTINEL,
    )

    want[(1, ref_open[3])] = (
        1, ref_open[3], ref_open[0], ref_open[1], OPEN_SENTINEL, ref_open[2]
    )
    assert one == want


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
