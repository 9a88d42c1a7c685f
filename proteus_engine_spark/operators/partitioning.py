"""Explicit partitioning / ship-strategy surface (SURVEY §4 ship
strategies; §2.2 DataSet utils).

Reference: DataSet.partitionByHash (flink-java/.../DataSet.java:1276),
partitionByRange (:1302), partitionCustom (:1334), rebalance (:1251);
ship strategies PARTITION_HASH/RANGE/FORCED_REBALANCE/CUSTOM
(flink-runtime/.../shipping/ShipStrategyType.java:41-66);
DataSetUtils.zipWithIndex / zipWithUniqueId
(flink-java/.../utils/DataSetUtils.java:68,119).

Spark-first: these are thin, deliberate wrappers — Catalyst inserts
exchanges automatically via EnsureRequirements, so explicit repartitioning
is only for (a) co-locating a join/agg ahead of several reuses, (b) width
control for CPU-bound stages AQE would coalesce, (c) output file layout.
zipWithUniqueId is exactly monotonically_increasing_id (unique, sparse,
partition-prefixed — both schemes shift a partition id into high bits);
zipWithIndex needs the reference's two-phase per-partition count scheme,
which ``running_sum`` implements once for every rank and prefix sum in
the package (counts or sums, global or restarting per group).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_by_hash(df: DataFrame, *cols: str | Column, n: int | None = None) -> DataFrame:
    """PARTITION_HASH / DataSet.partitionByHash: hash-shuffle on the key.
    Downstream per-key operators (groupBy/applyInPandas on the same key)
    reuse this exchange instead of adding their own."""
    return df.repartition(n, *cols) if n else df.repartition(*cols)


def partition_by_range(df: DataFrame, *cols: str | Column, n: int | None = None) -> DataFrame:
    """PARTITION_RANGE / DataSet.partitionByRange: range-shuffle (sampled
    boundaries) — the global-sort layout, and the right layout for writing
    ordered/clustered output files."""
    return df.repartitionByRange(n, *cols) if n else df.repartitionByRange(*cols)


def rebalance(df: DataFrame, n: int | None = None) -> DataFrame:
    """PARTITION_FORCED_REBALANCE / DataSet.rebalance: round-robin
    redistribution to break skew introduced upstream (e.g. a filter that
    emptied most partitions). Costs a full shuffle of the data — at 100 TB
    prefer AQE coalescing unless the skew is extreme."""
    return df.repartition(n) if n else df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def partition_custom(df: DataFrame, key: Column, n: int | None = None) -> DataFrame:
    """PARTITION_CUSTOM / DataSet.partitionCustom: Spark DataFrames have no
    user Partitioner object; an arbitrary partitioning EXPRESSION is the
    equivalent surface (hash of any computed key — salting, bucketing,
    modulo schemes all express this way)."""
    return df.repartition(n, key) if n else df.repartition(key)


def widen_if_narrow(df: DataFrame, n: int, *cols: str | Column) -> DataFrame:
    """Repartition to ``n`` ONLY when the plan's native parallelism is
    below ``n`` — the scale-adaptive form of the "explicit repartition
    before a compute-heavy, byte-light stage" pattern (shingling, gram
    explodes, token stats).

    Locally a single-row-group parquet file scans as ONE task and AQE
    never widens an un-shuffled scan, so the repartition is required; on
    a many-file 100 TB input the scan is already thousands of tasks wide
    and an unconditional repartition becomes a full shuffle of the text
    payloads — strictly worse than letting the downstream aggregate's own
    exchange carry the (far narrower) post-partial-agg rows.

    The width test is ``inputFiles()`` (driver-side file-index lookup, no
    job, ~40 ms measured): every file yields at least one scan split, so
    file count >= n PROVES the scan is wide and the shuffle is skipped;
    fewer-but-huge splittable files fall back to today's repartition —
    never narrower than the unconditional form at any scale."""
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:
        pass  # non-file-based plans (streams, local relations): repartition
    return df.repartition(n, *cols) if cols else df.repartition(n)


def zip_with_unique_id(df: DataFrame, out: str = "unique_id") -> DataFrame:
    """DataSetUtils.zipWithUniqueId: unique but non-contiguous ids, no
    extra pass — monotonically_increasing_id uses the same
    partition-id-in-high-bits scheme the reference's counter shifting
    does."""
    return df.withColumn(out, F.monotonically_increasing_id())


def zip_with_index(df: DataFrame, out: str = "idx") -> DataFrame:
    """DataSetUtils.zipWithIndex: CONTIGUOUS 0-based ids in partition
    order — ``running_sum``'s row-count case. After an orderBy, partition
    order is the sort order, so the index is the global rank."""
    return running_sum(df, out=out)


def running_sum(
    df: DataFrame,
    value: "str | Column | None" = None,
    group: str | None = None,
    out: str = "idx",
) -> DataFrame:
    """Exclusive running sum of ``value`` (cast to long, NULL as 0) in
    partition order — the order after an orderBy — added as long column
    ``out``. With ``value=None`` it counts rows (zip_with_index). With
    ``group`` the sum restarts at each contiguous run of equal group
    values; a group's base is the running sum at its first row, so any
    sort direction on the group key works, and NULL is one group (joined
    null-safe). Groups must be contiguous: sort by the group key first.

    The reference's two-phase scheme (DataSetUtils.java:68), the package's
    one copy of it, entirely JVM-side Catalyst — no RDD round-trip, no
    Python pass and no single-task global window: rows are tagged with
    (spark_partition_id, monotonically_increasing_id) in one projection;
    each (partition, group) run's total and first tag fold into one
    offset per run (a window over #partitions + #groups rows, trivial)
    minus its group's base; the offsets broadcast-join back onto the tag;
    and the local running sum is a window partitioned by the ORIGINAL
    partition id (and the group), so parallelism is at least the input
    partition count.

    The tagged frame is materialized ONCE (localCheckpoint): the count
    pass and the assign pass must see the IDENTICAL partitioning, and
    under AQE a recomputed subplan may coalesce differently between
    evaluations — at sf0.1 that produced offset/pid mismatches and an
    inner join that silently dropped whole partitions. RDD.zipWithIndex
    carries the same requirement (its two passes run on one materialized
    RDD); the checkpoint is that materialization, and it also removes
    the double computation of the input. COST: the checkpoint holds the
    whole input in executor storage until the returned frame is
    garbage-collected — pass only the columns you need."""
    from pyspark.sql.window import Window

    keys = ["__pid__"] + ([group] if group else [])
    tagged = df.withColumn("__mid__", F.monotonically_increasing_id())
    if value is not None:
        v = F.col(value) if isinstance(value, str) else value
        tagged = tagged.withColumn("__v__", F.coalesce(v.cast("long"), F.lit(0)))
    tagged = tagged.withColumn("__pid__", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    # one row per (partition, group) run: its total and its first tag
    total = F.count(F.lit(1)) if value is None else F.sum("__v__")
    runs = tagged.groupBy(*keys).agg(total.alias("__s__"), F.min("__mid__").alias("__m0__"))
    before = Window.orderBy("__pid__", "__m0__").rowsBetween(Window.unboundedPreceding, -1)
    off = F.coalesce(F.sum("__s__").over(before), F.lit(0))
    runs = runs.select(F.col("__pid__").alias("__rp__"), *keys[1:], "__m0__", off.alias("__off__"))
    on = F.col("__pid__") == F.col("__rp__")
    if group:
        bases = runs.groupBy(F.col(group).alias("__rg__")).agg(
            F.min_by("__off__", "__m0__").alias("__base__")
        )
        runs = runs.join(bases, F.col(group).eqNullSafe(F.col("__rg__"))).select(
            "__rp__", "__rg__", (F.col("__off__") - F.col("__base__")).alias("__off__")
        )
        on = on & F.col(group).eqNullSafe(F.col("__rg__"))
    w_local = Window.partitionBy(*keys).orderBy("__mid__")
    local = (
        F.row_number().over(w_local) - 1
        if value is None
        else F.sum("__v__").over(w_local) - F.col("__v__")
    )
    return (
        tagged.join(F.broadcast(runs.drop("__m0__")), on)
        .withColumn(out, (local + F.col("__off__")).cast("long"))
        .drop("__pid__", "__mid__", "__v__", "__rp__", "__rg__", "__off__")
    )
