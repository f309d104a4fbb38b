"""Skew mitigation (SURVEY.md §4: the long-video / hot-key straggler).

AQE's skew-join handling covers sort-merge joins automatically
(enabled in session.get_spark); these helpers cover the cases AQE
does not: skewed aggregations and skewed windows, via explicit
salting — partial aggregate on (key, salt), then final merge on key.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16) -> DataFrame:
    """Deterministic ``_salt`` from a stable row hash (no rand(): reruns
    and retried tasks must agree), spreading each hot key over n_salts
    subkeys."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn("_salt", F.pmod(h, F.lit(n_salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, tuple[Column, Callable[[str], Column]]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation for algebraic aggregates:
    partial on (keys, salt), final merge on keys.

    ``aggs`` maps output name -> (partial aggregate over the INPUT
    columns, merge function applied to the partial column by name).
    The merge is EXPLICIT — never inferred from the alias — because an
    alias like ``max_count`` is ambiguous and a silent wrong merge
    returns wrong totals:

        salted_agg(df, ["k"], {
            "total":   (F.sum("v"),   F.sum),
            "n":       (F.count("*"), F.sum),   # count merges by sum
            "largest": (F.max("v"),   F.max),
        })

    avg is not algebraic — express it as sum+count and divide after.
    """
    partial = df.transform(with_salt, n_salts).groupBy(*group_cols, "_salt").agg(
        *[a.alias(n) for n, (a, _) in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[merge(n).alias(n) for n, (_, merge) in aggs.items()]
    )
