"""Sort / limit / top-k surface.

Reference: DataSet.sortPartition (DataSet.java:1401), DataSet.first(n)
(DataSet.java:574), grouped first(n) (UnsortedGrouping.java:202),
Table.orderBy/limit/offset/fetch (table.scala:692–798), batch SQL global
sort via range partition + local sort (DataSetSort.scala:38,98).

Spark-first: `orderBy` already plans exactly the reference's strategy
(range-partition exchange + per-partition sort); `limit` after `orderBy`
becomes TakeOrderedAndProject, which never materializes the full sort at
scale — top-k per partition then merge on the driver/single task. Per-group
top-k is a window row_number, one shuffle on the group key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sort_partition(df: DataFrame, *cols: str | Column, ascending: bool = True) -> DataFrame:
    """DataSet.sortPartition parity: local sort, no exchange."""
    return df.sortWithinPartitions(*cols, ascending=ascending)


def first_n(df: DataFrame, n: int) -> DataFrame:
    """DataSet.first(n) (arbitrary n rows — deterministic only after sort)."""
    return df.limit(n)


def offset_fetch(df: DataFrame, order: list[Column], offset: int = 0, fetch: int | None = None) -> DataFrame:
    """Table.orderBy + offset/fetch (table.scala:733–798).

    Uses Spark's native `offset` (≥3.4) so the plan stays
    TakeOrderedAndProject-shaped instead of a full row_number pass.
    """
    out = df.orderBy(*order)
    if offset:
        out = out.offset(offset)
    if fetch is not None:
        out = out.limit(fetch)
    return out


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Grouped first(n) / per-group top-k (UnsortedGrouping.first,
    UnsortedGrouping.java:202) as a rank-filter: one shuffle on the group
    key; Spark's WindowExec streams sorted groups, and AQE skew-handles hot
    keys."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    ranked = df.withColumn(rank_col, F.row_number().over(w))
    return ranked.filter(F.col(rank_col) <= k).drop(rank_col)
