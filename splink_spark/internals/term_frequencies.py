"""Term-frequency tables and joins.

Reference: splink/internals/term_frequencies.py:32-55 — per column:
``SELECT col, count(*)::float8 / (SELECT count(col) FROM concat) AS tf_col
  FROM concat WHERE col IS NOT NULL GROUP BY col``
and :79-109 — LEFT JOIN each tf table back onto the concat.

A linker keeps them as one persisted store (``Linker.tf_tables``).

Scale notes: one aggregate per column; the denominator is a window sum over
its output, which has one row per distinct value. TF tables are
~|distinct values| rows, so the re-join broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tf_column_name(settings, column: str) -> str:
    """The TF value column for ``column``: the settings'
    ``term_frequency_adjustment_column_prefix`` followed by the column."""
    return f"{settings.term_frequency_adjustment_column_prefix}{column}"


def compute_term_frequencies(
    concat: DataFrame, column: str, tf_column: str | None = None
) -> DataFrame:
    """tf table: (column, tf_column) with tf = count / total non-null count;
    ``tf_column`` defaults to ``tf_<column>``."""
    counts = (
        concat.where(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # the non-null total is the sum of the counts: a window over the counts
    # table (one row per distinct value), not a second pass over the records
    total = F.sum("__n").over(Window.partitionBy())
    return counts.select(
        F.col(column),
        (F.col("__n").cast("double") / total.cast("double")).alias(
            tf_column or f"tf_{column}"
        ),
    )


def join_term_frequencies(
    concat: DataFrame, tf_tables: dict[str, DataFrame]
) -> DataFrame:
    """concat_with_tf: LEFT JOIN each tf table; tf tables are small → broadcast."""
    out = concat
    for column, tf in tf_tables.items():
        out = out.join(F.broadcast(tf), on=column, how="left")
    return out
