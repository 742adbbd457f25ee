"""As-of (point-in-time) join — an operator Spark lacks natively.

Both sides are tagged and unioned, and each left row takes
``last(right_struct, ignoreNulls)`` over a per-key window ordered by
(time, side, tiebreak): one shuffle and one sort, all in the JVM.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_by: str,
    right_by: str,
    right_cols: Optional[Sequence[str]] = None,
    tiebreak: Optional[str] = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right row's columns
    (NULL when no right row qualifies).

    ``direction="backward"`` (default) matches the latest right row with
    ``right_on <= left_on`` within the same key; ``"forward"`` the earliest
    right row with ``right_on >= left_on``.  On equal ``right_on`` the
    greatest ``tiebreak`` wins in both directions.  A NULL time on either
    side never matches, as in SQL ``rt <= t``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    right_cols = list(right_cols or [c for c in right.columns if c not in (right_by,)])
    left_cols = list(left.columns)
    # right payload packed in one struct: a non-null marker for
    # last(ignoreNulls) even when individual right columns are NULL
    r = right.filter(F.col(right_on).isNotNull()).select(
        F.col(right_by).alias(left_by),
        F.col(right_on).alias("_t"),
        F.lit(0).alias("_side"),
        (F.col(tiebreak) if tiebreak else F.lit(0)).alias("_tb"),
        F.struct(*right_cols).alias("_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols if c != left_by],
    )
    l = left.select(
        F.col(left_by),
        F.col(left_on).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_tb"].dataType).alias("_tb"),
        F.lit(None).cast(r.schema["_r"].dataType).alias("_r"),
        *[F.col(c) for c in left_cols if c != left_by],
    )
    # time asc (backward) / desc (forward); at equal time right rows first
    # (exact matches allowed), equal right times by ascending tiebreak so
    # last() is the greatest
    t_order = F.col("_t").asc() if direction == "backward" else F.col("_t").desc()
    w = (
        Window.partitionBy(left_by)
        .orderBy(t_order, F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        r.unionByName(l)
        .withColumn(
            "_m",
            F.when(F.col("_t").isNotNull(), F.last("_r", ignorenulls=True).over(w)),
        )
        .filter(F.col("_side") == 1)
    )
    return matched.select(
        *[F.col(c) for c in left_cols],
        *[F.col("_m").getField(c).alias(c) for c in right_cols],
    )
