"""Cross-engine-stable expression helpers.

``srnd`` replaces round() in every oracle-checked float output:
Spark's round() re-rounds the shortest-decimal representation
(BigDecimal HALF_UP) while DuckDB rounds the scaled binary value, so
values sitting exactly on a decimal boundary — common when inputs are
decimal-quantized like discounts/taxes — round differently. The
floor(x·10ⁿ + 0.5)/10ⁿ form is the same IEEE op sequence in both
engines, so identical inputs give bit-identical outputs. The oracle
SQL spells the same formula inline.

``literal_frame`` builds small constant frames on the JVM side.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def srnd(col: Column | str, n: int = 4) -> Column:
    """Stable half-up rounding to n decimals (see module docstring)."""
    if isinstance(col, str):
        col = F.col(col)
    s = F.lit(float(10**n))
    return F.floor(col * s + F.lit(0.5)) / s


def sql_srnd(expr: str, n: int = 4) -> str:
    """The DuckDB-side spelling of ``srnd`` for oracle strings."""
    s = f"{float(10 ** n):.1f}"
    return f"floor(({expr}) * {s} + 0.5) / {s}"


def literal_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[object]],
    cols: Sequence[tuple[str, str]],
) -> DataFrame:
    """A small constant frame (``cols`` = ``(name, type)`` pairs, one
    per row field) as a JVM literal: ``inline(array(struct(...)))``
    over ``spark.range(1)``. ``spark.createDataFrame`` on Python rows
    plans a ``parallelize`` scan instead, so every read of it starts
    Python-worker tasks."""
    return spark.range(1).select(
        F.inline(
            F.array(
                *(
                    F.struct(
                        *(F.lit(v).cast(t).alias(n) for v, (n, t) in zip(row, cols))
                    )
                    for row in rows
                )
            )
        )
    )
