"""Column helpers shared by the domain plan modules."""

from __future__ import annotations

from pyspark.sql import functions as F


def dec_sum(col: F.Column, scale: int) -> F.Column:
    """Partition-order-independent sum of a double column: an exact
    DECIMAL(30, scale) sum, so the result never depends on the order
    partitions are merged in."""
    return F.sum(col.cast(f"decimal(30,{scale})"))


_SCORE_W = [((-1.0) ** j) / (j + 1.0) for j in range(64)]


def sigmoid_score() -> F.Column:
    """Sigmoid of a fixed 64-weight dot product over ``embedding``
    (weights (-1)^j / (j+1)), folded in fixed order so the double is
    reproducible."""
    w_col = F.array(*[F.lit(float(x)) for x in _SCORE_W])
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"), w_col, lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return 1.0 / (1.0 + F.exp(-dot))


# DuckDB twin of ``sigmoid_score`` for the oracle SQL.
SIGMOID_SCORE_SQL = (
    "1.0 / (1.0 + exp(-list_reduce(list_transform(range(0, 64), "
    "j -> CAST(CAST(embedding AS FLOAT[])[j + 1] AS DOUBLE) * "
    "CAST((-1.0) ** j / (j + 1.0) AS DOUBLE)), (a, b) -> a + b)))"
)
