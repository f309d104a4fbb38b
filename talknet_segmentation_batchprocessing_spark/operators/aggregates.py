"""Aggregation operators (SURVEY.md §2.4), including the full VOC
average-precision window pipeline (A6) — the reference's main
evaluation metric, re-expressed without the subprocess
(utils/get_ava_active_speaker_performance.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round

# A1 quirk: the intended 11-element multiset {1,1,1,2,2,2,3,3,4,5,6} is a
# Python *set* literal in the reference (demoTalkNet.py:233-234), which
# collapses to 6 equal-weight durations.
DURATION_SET = [1, 2, 3, 4, 5, 6]


def per_speaker_f1(
    scored: DataFrame,
    speaker_col: str = "speaker_id",
    gt_col: str = "gt",
    score_col: str = "score",
) -> DataFrame:
    """A5: per-speaker accuracy + F1 over binarized scores
    (``score > 0``), reference Columbia eval demoTalkNet.py:425-437.

    One grouped pass of conditional sums; F1 from TP/FP/FN arithmetic.
    """
    pred = (F.col(score_col) > 0).cast("int")
    gt = F.col(gt_col)
    return (
        scored.groupBy(speaker_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(((pred == 1) & (gt == 1)).cast("int")).alias("tp"),
            F.sum(((pred == 1) & (gt == 0)).cast("int")).alias("fp"),
            F.sum(((pred == 0) & (gt == 1)).cast("int")).alias("fn"),
            F.sum((pred == gt).cast("int")).alias("correct"),
        )
        .withColumn("accuracy", stable_round(F.col("correct") / F.col("n"), 6))
        .withColumn(
            "f1",
            stable_round(
                F.when(
                    (2 * F.col("tp") + F.col("fp") + F.col("fn")) > 0,
                    2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn")),
                ).otherwise(F.lit(0.0)),
                6,
            ),
        )
    )


def _ap_one_phase(
    df: DataFrame,
    score_col: str,
    lab: Column,
    tiebreak_cols: Sequence[str],
    extra_aggs: Sequence[Column],
) -> DataFrame:
    """AP window pipeline over one opaque partition: the form below the
    crossover of :func:`average_precision`."""
    from ..plans.two_phase import one_partition_col

    df = df.withColumn("_ap_p", one_partition_col())
    order = [F.desc(score_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy("_ap_p").orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # Suffix max expressed as a running max over the exact REVERSE total
    # order: frames ending at UNBOUNDED FOLLOWING are recomputed per row
    # by WindowExec (O(n^2) per partition — 145 s at 100k rows), while
    # growing UNBOUNDED PRECEDING frames aggregate incrementally (O(n)).
    order_rev = [F.asc(score_col)] + [F.desc(c) for c in tiebreak_cols]
    w_rev = Window.partitionBy("_ap_p").orderBy(*order_rev)
    wsuffix = w_rev.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    ranked = (
        df.withColumn("_rank", F.row_number().over(w))
        .withColumn("_tp", F.sum(lab).over(wcum))
        .withColumn("_pos", F.sum(lab).over(wall))
    )
    # try_divide: zero positives must yield a NULL AP (the DuckDB
    # oracle's ``x/0``) rather than an ANSI DIVIDE_BY_ZERO error.
    pr = ranked.withColumn("_prec", F.col("_tp") / F.col("_rank")).withColumn(
        "_rec", F.try_divide(F.col("_tp"), F.col("_pos"))
    )
    # _dr (lag over w) BEFORE _sprec (running max over the reverse
    # order): the lag's WindowExec reuses the sort the rank/cumsum pass
    # already established, so the partition is sorted twice total
    # (forward, reverse) instead of three times (forward, reverse,
    # forward again) — WindowExec re-sorts whenever the required order
    # differs from the child's, and sort dominates the one-phase cost.
    sm = pr.withColumn(
        "_dr", F.col("_rec") - F.coalesce(F.lag("_rec").over(w), F.lit(0.0))
    ).withColumn("_sprec", F.max("_prec").over(wsuffix))
    # Ungrouped final aggregate: exactly one output row even on an
    # empty input (NULL AP — the oracle's semantics), while the windows
    # above still carry the opaque single-partition spec.
    return sm.agg(
        stable_round(F.sum(F.col("_dr") * F.col("_sprec")), 6).alias("ap"),
        *extra_aggs,
    )


def average_precision(
    df: DataFrame,
    score_col: str = "score",
    label_col: str = "is_positive",
    tiebreak_cols: Sequence[str] = ("uid",),
    n_upper: int | None = None,
    extra_aggs: Sequence[Column] = (),
) -> DataFrame:
    """A6: VOC average precision as a pure window pipeline
    (utils/get_ava_active_speaker_performance.py:23-67,151-177), one
    ``ap`` row rounded to 6 digits.

    Sorted desc by score: ``tp = cumsum(label)``, ``precision = tp/rank``,
    ``recall = tp/P``; precision made monotone non-increasing via suffix
    max; ``AP = sum(delta_recall * smoothed_precision)``. The reference's
    [0,...,1]/[0,...,0] padding contributes nothing to the sum (the
    appended point has precision 0), so the window form is exact.

    ``tiebreak_cols`` pins the order among equal scores (pandas sort is
    stable on merge order; any fixed total order yields the same AP only
    up to tie handling, so determinism requires the explicit key).
    ``extra_aggs`` (e.g. the eval arm's validation counts) ride the
    final aggregate, so callers need no second scan of the input and no
    crossJoin of 1-row frames.

    Adaptive one-/two-phase. Measured tradeoff (local[32], min of 3):
    the single-partition one-phase form wins below ~1.5M rows
    (re-measured round 4; fixed per-stage overhead dominates), the
    two-phase form wins 2x at 5M (6.3s vs 11.7s) and the gap widens
    with scale: one-phase runs the whole sort+window on ONE task of one
    executor (strictly serial), two-phase keeps every pass parallel. The
    switch is measured, not guessed: ``prepare_keyed``'s single driver
    action returns the row count alongside the bucket boundaries, and
    below ``two_phase.CROSSOVER_ROWS`` the window pipeline runs over one
    opaque partition (``one_partition_col`` — a real partition spec, no
    WindowExec hazard warning) at one-phase cost with zero scale risk
    above the crossover.

    Two-phase structure:

    - range-bucket rows on score; ONE tiny stats aggregate gives
      per-bucket row counts and positive counts, whose exclusive
      prefixes (broadcast theta self-join) lift bucket-local
      ``row_number`` / ``cumsum(label)`` to their global values; total
      P is a broadcast 1-row aggregate (``x/0`` stays NULL, preserving
      the no-positives semantics of the one-phase form and the oracle);
    - the precision suffix-max splits into a bucket-local running max
      over the reverse order plus a cross-bucket tail max, computed on
      the tiny per-bucket-max frame (#buckets rows) and broadcast back;
    - delta-recall needs only the bucket-LOCAL cumsum lag: the previous
      global row's tp differs by exactly the bucket offset, which
      cancels in the subtraction; each bucket's first row coalesces to
      ``tp_offset/P`` — the same double division, bit-identical to the
      one-phase ``rec - lag(rec)``.
    """
    from ..plans.two_phase import (
        _BUCKET,
        CROSSOVER_ROWS,
        attach_range_bucket,
        bucket_prefix,
        one_partition_col,
        prepare_keyed,
    )

    lab = F.col(label_col).cast("int")
    df, n, bnds = prepare_keyed(df, score_col, n_upper=n_upper)
    if n <= CROSSOVER_ROWS or not bnds:
        return _ap_one_phase(df, score_col, lab, tiebreak_cols, extra_aggs)
    b = attach_range_bucket(df, score_col, bnds, descending=True)
    stats = b.groupBy(_BUCKET).agg(
        F.count("*").alias("_tp_cnt"), F.sum(lab).alias("_tp_np")
    )
    off = bucket_prefix(
        stats,
        {"_tp_cnt": "_tp_rank_off", "_tp_np": "_tp_tp_off"},
        totals={"_tp_np": "_tp_total"},
    )

    order = [F.desc(score_col)] + [F.col(c) for c in tiebreak_cols]
    order_rev = [F.asc(score_col)] + [F.desc(c) for c in tiebreak_cols]
    w = Window.partitionBy(_BUCKET).orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wsuffix = (
        Window.partitionBy(_BUCKET)
        .orderBy(*order_rev)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    scored = (
        b.join(F.broadcast(off), _BUCKET)
        .withColumn("_ltp", F.sum(lab).over(wcum))
        .withColumn("_rank", F.col("_tp_rank_off") + F.row_number().over(w))
        .withColumn("_tp", F.col("_tp_tp_off") + F.col("_ltp"))
        .withColumn("_prec", F.col("_tp") / F.col("_rank"))
        # try_divide: with zero positives ``x/0`` must yield NULL (the
        # one-phase form and the DuckDB oracle both produce a NULL AP),
        # but ANSI mode (on by default in Spark 4) makes ``/`` throw.
        .withColumn("_rec", F.try_divide(F.col("_tp"), F.col("_tp_total")))
        .withColumn(
            "_dr",
            F.col("_rec")
            - F.coalesce(
                F.lag("_rec").over(w),
                F.try_divide(F.col("_tp_tp_off"), F.col("_tp_total")),
            ),
        )
        .withColumn("_lsuf", F.max("_prec").over(wsuffix))
    )
    # Cross-bucket tail max over the #buckets-row frame. A window here
    # would constant-fold to Exchange SinglePartition, so use a theta
    # self-join (#buckets^2 pairs — trivial) + grouped max instead:
    # tail[b] = max(_bm over buckets AFTER b in the desc score order).
    bm = scored.groupBy(_BUCKET).agg(F.max("_prec").alias("_bm"))
    later = bm.select(F.col(_BUCKET).alias("_b2"), F.col("_bm").alias("_bm2"))
    bmax = (
        bm.join(F.broadcast(later), F.col("_b2") > F.col(_BUCKET), "left")
        .groupBy(_BUCKET)
        .agg(F.max("_bm2").alias("_tail"))
    )
    sm = scored.join(F.broadcast(bmax), _BUCKET).withColumn(
        "_sprec",
        F.greatest(F.col("_lsuf"), F.coalesce(F.col("_tail"), F.lit(float("-inf")))),
    )
    return sm.agg(
        stable_round(F.sum(F.col("_dr") * F.col("_sprec")), 6).alias("ap"),
        *extra_aggs,
    )


def audio_energy_db(samples_col: Column | str, eps: float = 1e-4) -> Column:
    """A9: ``10*log10(mean(x^2) + eps)`` over a sample array
    (dataLoader.py:24-26) — higher-order ``aggregate``, no UDF."""
    c = F.col(samples_col) if isinstance(samples_col, str) else samples_col
    n = F.size(c)
    total = F.aggregate(
        c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.lit(10.0) * F.log10(total / n + F.lit(eps))
