"""Oracle-stable rounding.

Spark's ``round()`` on DOUBLE goes through the shortest decimal string
(java BigDecimal.valueOf + HALF_UP) while DuckDB rounds by multiplying
the binary double — borderline values (e.g. 3712.635) round differently,
flipping the driver's value hash. ``stable_round`` instead computes
``floor(x * 10^n + 0.5) / 10^n`` — pure IEEE-double arithmetic that is
bit-identical on any engine. Oracle SQL strings use the same expression
(see ``queries/``); both sides always agree.

For positive values this is round-half-up; for negatives it rounds
halves toward +inf. The reference's own rounding (Python ``round``,
demoTalkNet.py:270) is banker's — none of these agree on exact halves,
and the oracle gate only needs Spark==DuckDB, so we standardize on the
one formula both engines evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column | str, digits: int) -> Column:
    """floor(col * 10^digits + 0.5) / 10^digits, as IEEE doubles."""
    if isinstance(col, str):
        col = F.col(col)
    p = F.lit(float(10**digits))
    return F.floor(col * p + F.lit(0.5)) / p
