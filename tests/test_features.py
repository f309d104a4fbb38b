"""Tests for X5 MFCC extraction and W7 exact batch packing."""

from __future__ import annotations

import numpy as np


def test_mfcc_shape_and_determinism():
    from talknet_segmentation_batchprocessing_spark.functions.mfcc import mfcc

    rng = np.random.RandomState(1)
    sig = (rng.uniform(-1, 1, 16000) * 2**14).astype(np.int16)
    a = mfcc(sig)
    b = mfcc(sig)
    assert a.shape[1] == 13
    # 25 ms win / 10 ms step over 1 s of 16 kHz -> ~99 frames (100/s)
    assert 95 <= a.shape[0] <= 101
    np.testing.assert_array_equal(a, b)
    # louder signal -> larger log-energy channel (c0)
    loud = mfcc((sig.astype(np.float64) * 4).astype(np.int16))
    assert loud[:, 0].mean() > a[:, 0].mean()
    # empty signal degrades gracefully
    assert mfcc(np.array([], dtype=np.int16)).shape == (0, 13)


def test_pack_batches_exact_matches_reference_loop(spark):
    from talknet_segmentation_batchprocessing_spark.operators.windows import (
        pack_batches_exact,
    )

    rng = np.random.RandomState(3)
    lengths = rng.randint(10, 500, size=200)
    df = spark.createDataFrame(
        [(int(i), int(l)) for i, l in enumerate(lengths)], "row_id int, len int"
    )
    got = (
        pack_batches_exact(df, "len", batch_size=2500, tiebreak_cols=("row_id",))
        .toPandas()
        .sort_values(["len", "row_id"], ascending=[False, True])
        .reset_index(drop=True)
    )
    # reference loop (dataLoader.py:96-104)
    order = sorted(zip(lengths, range(len(lengths))), key=lambda t: (-t[0], t[1]))
    expect = []
    i, bid = 0, 0
    while i < len(order):
        cap = max(int(2500 / order[i][0]), 1)
        expect.extend([bid] * min(cap, len(order) - i))
        i += cap
        bid += 1
    assert got.batch_id.tolist() == expect
    # every batch's cost (first_len * rows) stays near batch_size
    first = got.groupby("batch_id").first()
    sizes = got.groupby("batch_id").size()
    full = sizes.index[:-1]  # last batch may be partial
    assert ((first.loc[full, "len"] * sizes.loc[full]) <= 2500).all()
