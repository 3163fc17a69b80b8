"""Deterministic top-k helpers (SURVEY §2.5 ⚠ tie policy).

ORDER BY + LIMIT compiles to ``TakeOrderedAndProject`` — a per-partition
top-k then a k-row merge on the driver, no global sort. The helpers
here just enforce a total order (explicit tie-break columns) so results
are reproducible and oracle-comparable.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_cols: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k within each group via row_number — shuffles once on the
    group key; no global sort, no driver collect."""
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
