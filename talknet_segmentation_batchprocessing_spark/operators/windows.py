"""Window / sequence operators (SURVEY.md §2.5).

All of these are single-shuffle (one hash partitioning by the group
key) and stay entirely inside whole-stage codegen — no Python in the
hot path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def centered_mean(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    before: int = 2,
    after: int = 2,
    out_col: str = "smoothed",
    reference_tail_quirk: bool = False,
) -> DataFrame:
    """W2: centered moving average over ``before`` preceding and
    ``after`` following rows (reference demoTalkNet.py:349-351:
    ``mean(score[max(i-2,0) : min(i+3, len-1)])``).

    ``reference_tail_quirk=True`` replicates the reference bug where the
    slice upper bound ``len(score)-1`` silently drops the LAST row of
    the partition from every window that would include it (so e.g. the
    final row averages only itself... actually rows within ``after`` of
    the end lose the final row). Default False = clean centered mean.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    if not reference_tail_quirk:
        wv = w.rowsBetween(-before, after)
        return df.withColumn(out_col, F.avg(value_col).over(wv))
    # Parity mode: exclude the partition's final row from the window
    # unless the current row IS the final row's only member. The
    # reference computes mean over indices [max(i-2,0), min(i+3, n-1))
    # — i.e. the last row (index n-1) is excluded from every window,
    # including its own (slice [n-3, n-1) for i=n-1 => 2 elements).
    n = F.count("*").over(Window.partitionBy(*partition_cols))
    rn = F.row_number().over(w)  # 1-based
    wv = w.rowsBetween(-before, after)
    # sum/count over the clean window, then subtract the final row's
    # contribution when it falls inside this row's window.
    s = F.sum(value_col).over(wv)
    c = F.count(value_col).over(wv)
    last_val = F.last(value_col).over(
        Window.partitionBy(*partition_cols).orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    includes_last = rn + F.lit(after) >= n
    s2 = F.when(includes_last, s - last_val).otherwise(s)
    c2 = F.when(includes_last, c - F.lit(1)).otherwise(c)
    return df.withColumn(out_col, s2 / c2)


def windowed_median(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    k: int = 13,
    out_col: str = "med",
    zero_pad: bool = False,
) -> DataFrame:
    """W3: centered running median of width ``k`` (odd), the relational
    core of ``scipy.signal.medfilt(x, 13)`` on track center/size
    (reference demoTalkNet.py:185-192).

    ``zero_pad=True`` replicates medfilt's zero padding at partition
    edges exactly: medfilt pads ``k//2`` zeros on each side, so windows
    that overlap the edge include those zeros in the median rather than
    shrinking. Implemented by counting the missing slots and comparing
    the in-window values against the zero-padded rank — still pure SQL.
    """
    half = k // 2
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    wv = w.rowsBetween(-half, half)
    if not zero_pad:
        return df.withColumn(out_col, F.expr(f"percentile({value_col}, 0.5)").over(wv))
    # Zero-padded variant: collect the window, pad with zeros to k, take
    # the exact middle element (k odd => element index half, 0-based).
    vals = F.collect_list(value_col).over(wv)
    padded = F.concat(vals, F.array_repeat(F.lit(0.0), k - F.size(vals)))
    return df.withColumn(out_col, F.array_sort(padded)[half])


def interpolate_gaps(
    df: DataFrame,
    partition_cols: Sequence[str],
    frame_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """W4: densify an integer frame axis per partition and linearly
    interpolate each value column over gaps (reference
    demoTalkNet.py:168-175: ``arange(first,last+1)`` + ``interp1d``).

    Pure DataFrame formulation: sequence+explode builds the dense axis,
    a left join re-attaches observations, and two ignoring-nulls window
    scans (last-before, first-after) give the interpolation anchors.
    Values outside the observed range keep the nearest anchor (interp1d
    is never asked to extrapolate in the reference because the axis
    spans first..last detected frames).
    """
    pc = list(partition_cols)
    axis = (
        df.groupBy(*pc)
        .agg(F.min(frame_col).alias("_f0"), F.max(frame_col).alias("_f1"))
        .select(*pc, F.explode(F.sequence("_f0", "_f1")).alias(frame_col))
    )
    dense = axis.join(df, pc + [frame_col], "left")
    w = Window.partitionBy(*pc).orderBy(frame_col)
    wprev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wnext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # anchor frames
    obs_frame = F.when(F.col(value_cols[0]).isNotNull(), F.col(frame_col))
    prev_f = F.last(obs_frame, ignorenulls=True).over(wprev)
    next_f = F.first(obs_frame, ignorenulls=True).over(wnext)
    out = dense.withColumn("_pf", prev_f).withColumn("_nf", next_f)
    for v in value_cols:
        pv = F.last(F.col(v), ignorenulls=True).over(wprev)
        nv = F.first(F.col(v), ignorenulls=True).over(wnext)
        out = out.withColumn(f"_p_{v}", pv).withColumn(f"_n_{v}", nv)
    frac = F.when(
        F.col("_nf") == F.col("_pf"), F.lit(0.0)
    ).otherwise((F.col(frame_col) - F.col("_pf")) / (F.col("_nf") - F.col("_pf")))
    for v in value_cols:
        interp = F.coalesce(
            F.col(v),
            F.when(F.col("_pf").isNull(), F.col(f"_n_{v}"))
            .when(F.col("_nf").isNull(), F.col(f"_p_{v}"))
            .otherwise(F.col(f"_p_{v}") + frac * (F.col(f"_n_{v}") - F.col(f"_p_{v}"))),
        )
        out = out.withColumn(v, interp)
    return out.drop("_pf", "_nf", *[f"_p_{v}" for v in value_cols], *[f"_n_{v}" for v in value_cols])


def top_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
    rank_col: str = "rn",
    keep_rank: bool = False,
) -> DataFrame:
    """W5/W6-core: top-k rows per group via ``row_number`` (reference
    best-IoU pick demoTalkNet.py:415-417; detector top_k cap
    model/faceDetector/s3fd/box_utils.py:129-140).

    ``order_by`` must end in a deterministic tie-break key.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def tumbling_window_id(col: Column, width: float) -> Column:
    """W9: tumbling clip id ``floor(x / width)`` (reference
    demoTalkNet.py:256-262 scores tracks in duration*25-frame clips)."""
    return F.floor(col / F.lit(width)).cast("bigint")


def pack_batches(
    df: DataFrame,
    length_col: str,
    batch_size: int,
    order_desc: bool = True,
    tiebreak_cols: Sequence[str] = (),
    n_upper: int | None = None,
) -> DataFrame:
    """W7: length-sorted dynamic batch packing into ``batch_id`` (reference
    dataLoader.py:89-108): sort by length desc, walk rows packing while
    the running "cost" stays under ``batch_size``.

    The reference packs ``ceil(batch_size / length)`` consecutive rows
    per batch where ``length`` is the FIRST row's length of the batch;
    relationally we reproduce the same greedy grouping with a
    running-index formulation: rows are numbered in sorted order and a
    batch closes when ``row_number`` reaches the running capacity. That
    sequential recurrence is not expressible as a fixed window, so we
    use the standard relaxation (identical for the reference's
    monotone-length input): batch id = floor(cumulative_length /
    batch_size) over the sorted order — every batch's total length is
    ~batch_size, lengths sorted desc so batches are homogeneous.
    """
    from ..plans.two_phase import global_cumsum

    # Two-phase global running sum (bucket-local cumsum + per-bucket sum
    # offsets) — the naive Window.orderBy form serializes every row
    # through one partition.
    cum = global_cumsum(
        df,
        length_col,
        length_col,
        tiebreak_cols=tuple(tiebreak_cols),
        descending=order_desc,
        out_col="_cum",
        n_upper=n_upper,
    )
    batch = F.floor((F.col("_cum") - F.lit(1)) / F.lit(batch_size)).cast("bigint")
    return cum.withColumn("batch_id", batch).drop("_cum")


def pack_batches_exact(
    df: DataFrame,
    length_col: str,
    batch_size: int,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """W7 exact semantics (dataLoader.py:96-104): after sorting by
    length desc, each batch takes ``max(int(batch_size / first_row_len),
    1)`` consecutive rows — the capacity is set by the batch's FIRST
    (longest) row. A sequential recurrence (each batch boundary depends
    on the previous), so it runs as one pandas kernel over the whole
    input (batching is per-epoch in the reference, bounded input) and
    adds ``batch_id``.
    """
    import pandas as pd

    from ..deploy import ensure_worker_imports

    ensure_worker_imports(df)
    sort_cols = [length_col, *tiebreak_cols]
    ascending = [False] + [True] * len(tiebreak_cols)

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf.drop(columns=["_g"]).sort_values(
            sort_cols, ascending=ascending, kind="mergesort"
        )
        ids = []
        bid = 0
        i = 0
        n = len(p)
        lengths = p[length_col].to_numpy()
        while i < n:
            cap = max(int(batch_size / lengths[i]), 1)
            ids.extend([bid] * min(cap, n - i))
            i += cap
            bid += 1
        p["batch_id"] = pd.Series(ids, index=p.index[: len(ids)]).astype("int64")
        return p

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["batch_id bigint"]
    )
    return df.withColumn("_g", F.lit(0)).groupBy("_g").applyInPandas(assign, schema)
