"""The one stats-pruning rule every table format shares (the reference's
"read only what commit stats say is involved", ``DeleteView.java:100``).

Each format only decodes its metadata (COW/MOR write stats, Hudi
column_stats, Delta add.stats and partition values, Iceberg partition
values and manifest summaries) into a per-file ``(min, max)``. Pruning
is an optimization, never a filter: the row-level residual always runs
on top. Bounds are ``{col: (lo, hi)}``, inclusive, None = open side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def may_overlap(lo, hi, mn, mx) -> bool:
    """Can a file whose column spans [mn, mx] hold a value in [lo, hi]?

    False only when the stats prove the ranges disjoint. A missing bound
    or stat (None) proves nothing on its side, and a cross-type
    comparison (``TypeError``, e.g. a ``date`` bound against stats
    published as strings) keeps the file."""
    try:
        return not (
            (hi is not None and mn is not None and mn > hi)
            or (lo is not None and mx is not None and mx < lo)
        )
    except TypeError:
        return True


def bounds_filter(df: DataFrame, bounds: dict[str, tuple]) -> DataFrame:
    """Row-level residual of ``bounds``: ``lo <= col <= hi`` per column,
    a None side left open."""
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df
