"""As-of (latest-at-or-before) join — an operator Spark lacks natively
(SURVEY.md §2.4 lists it as engine-added capability).

Implemented as a composition of built-in ops (the preferred strategy):
union the two sides tagged, sort within the partition key by event
time, and carry right-side rows forward with a window fill —
``last(..., ignorenulls)`` over UNBOUNDED PRECEDING .. CURRENT ROW.

One shuffle on the key — same cost as a sort-merge join, no custom
state.  For very large windows an alternative is bucketized join +
``pd.merge_asof`` per group (applyInPandas); this version stays fully
JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach ``value_cols`` from the latest right
    row with right_time <= left_time matching on the equi-key ``on``.
    Right columns come back with an ``asof_`` prefix (NULL when no
    matching right row exists).

    ``right_tiebreak`` names a right column that deterministically
    orders right rows with equal timestamps (the greatest wins).
    """
    rtypes = dict(right.dtypes)
    tie_type = rtypes[right_tiebreak] if right_tiebreak else "int"
    lt = left.select(
        F.col(on), F.col(left_time).alias("_t"), F.lit(1).alias("_is_left"),
        F.lit(None).cast(tie_type).alias("_tie"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        *[F.lit(None).cast(rtypes[c]).alias(f"asof_{c}") for c in value_cols],
    )
    rt = right.select(
        F.col(on), F.col(right_time).alias("_t"), F.lit(0).alias("_is_left"),
        (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).cast(tie_type).alias("_tie"),
        F.lit(None).cast(lt.schema["_l"].dataType).alias("_l"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
    )
    # right rows sort before left rows at equal timestamps so a
    # same-instant right row is visible to the left row (<= semantics);
    # equal-time right rows order by the tiebreak with the greatest
    # carried last (last() wins).
    w = (
        Window.partitionBy(on)
        .orderBy("_t", "_is_left", F.col("_tie").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        lt.unionByName(rt)
        .select(
            "_is_left",
            "_l",
            *[
                F.last(f"asof_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
                for c in value_cols
            ],
        )
        .filter(F.col("_is_left") == 1)
        .select(F.col("_l.*"), *[f"asof_{c}" for c in value_cols])
    )
