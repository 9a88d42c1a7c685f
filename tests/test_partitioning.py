"""Explicit partitioning / ship-strategy surface (DataSet.partitionByHash
:1276, partitionByRange :1302, rebalance :1251, partitionCustom :1334;
DataSetUtils.zipWithIndex :68 / zipWithUniqueId :119), the running-sum
primitive under every two-phase rank and prefix sum, and its
sequence-packing client."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proteus_engine_spark.operators.partitioning import (
    partition_by_hash,
    partition_by_range,
    partition_custom,
    rebalance,
    running_sum,
    zip_with_index,
    zip_with_unique_id,
)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_by_hash_plans_hash_exchange(spark):
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    plan = _plan(partition_by_hash(df, "k", n=8))
    assert "hashpartitioning" in plan and "k#" in plan


def test_partition_by_range_plans_range_exchange(spark):
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    plan = _plan(partition_by_range(df, "k", n=8))
    assert "rangepartitioning" in plan


def test_rebalance_round_robin(spark):
    df = spark.range(1000).filter(F.col("id") < 10)  # skewed tiny remainder
    out = rebalance(df, n=4)
    assert "RoundRobinPartitioning" in _plan(out) or "roundrobin" in _plan(out).lower()
    assert out.count() == 10


def test_partition_custom_expression_key(spark):
    df = spark.range(100)
    out = partition_custom(df, (F.col("id") % 5).cast("int"), n=5)
    assert out.count() == 100
    assert "hashpartitioning" in _plan(out)


def test_zip_with_unique_id_unique(spark):
    df = spark.range(500).repartition(8)
    out = zip_with_unique_id(df)
    ids = [r["unique_id"] for r in out.collect()]
    assert len(set(ids)) == 500


def test_zip_with_index_contiguous_and_order_preserving(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2).orderBy(F.col("id").desc())
    out = zip_with_index(df)
    rows = sorted((r["idx"], r["id"]) for r in out.collect())
    # contiguous 0..99, and index follows the descending sort order
    assert [i for i, _ in rows] == list(range(100))
    assert rows[0] == (0, 99) and rows[99] == (99, 0)


def test_zip_with_index_plan_is_jvm_only(spark):
    # The whole scheme must stay inside Catalyst: no Python evaluation
    # node (the r5 implementation round-tripped every row through
    # df.rdd.zipWithIndex — a full-corpus Python pass at 100 TB). The
    # localCheckpoint scan DOES surface as an ExistingRDD of JVM
    # InternalRows — that is the deliberate one-time materialization that
    # pins one partitioning for both passes (AQE re-planning between the
    # count and assign passes dropped whole partitions at sf0.1), not a
    # Python crossing.
    df = spark.range(1000).repartition(8)
    plan = _plan(zip_with_index(df))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "row_number" in plan
    # offsets arrive via broadcast, not a shuffled join
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_zip_with_index_multi_partition_counts(spark):
    # uneven partitions: offsets must accumulate per-partition counts
    df = spark.range(1003).repartition(7)
    out = zip_with_index(df)
    idxs = [r["idx"] for r in out.collect()]
    assert sorted(idxs) == list(range(1003))


# --- widen_if_narrow (r17 optimization round: scale-adaptive widening) ---


def test_widen_if_narrow_repartitions_single_file(spark, tmp_path):
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = widen_if_narrow(df, 8)
    assert "REPARTITION_BY_NUM" in _plan(out)
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_widen_if_narrow_skips_wide_scan(spark, tmp_path):
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    p = str(tmp_path / "many")
    spark.range(100).repartition(10).write.parquet(p)
    df = spark.read.parquet(p)
    # 10 files >= 8 target: provably wide, the repartition must be skipped
    out = widen_if_narrow(df, 8)
    assert out is df
    # but a higher target than the file count still repartitions
    assert "REPARTITION_BY_NUM" in _plan(widen_if_narrow(df, 64))


def test_widen_if_narrow_key_columns_and_nonfile_fallback(spark):
    from proteus_engine_spark.operators.partitioning import widen_if_narrow

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    # non-file plans (range) have no input files: always repartition
    plan = _plan(widen_if_narrow(df, 8, "k"))
    assert "hashpartitioning" in plan and "k#" in plan
    plan = _plan(widen_if_narrow(df, 8))
    assert "REPARTITION_BY_NUM" in plan


# --- running_sum: the one two-phase rank / prefix-sum body ---


@pytest.mark.skipif(not HAS_HYPOTHESIS, reason="hypothesis not installed")
@settings(deadline=None, max_examples=12)
@given(
    rows=st_.lists(
        st_.tuples(
            st_.sampled_from(["a", "b", "c", None]),
            st_.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    n_parts=st_.integers(min_value=1, max_value=7),
    ascending=st_.booleans(),
)
def test_running_sum_matches_pandas_group_cumsum(spark, rows, n_parts, ascending):
    """Against pandas groupby().cumsum(): the exclusive running sum
    restarts at each group (NULL is one group) whatever the sort
    direction of the group key or the number of partitions; the count
    case is the exclusive running row count."""
    import pandas as pd

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, g string, v long").repartition(n_parts)
    g_order = F.col("g").asc_nulls_first() if ascending else F.col("g").desc_nulls_last()
    ordered = df.orderBy(g_order, "k")
    pdf = pd.DataFrame(data, columns=["k", "g", "v"]).sort_values(
        ["g", "k"], ascending=[ascending, True], na_position="first" if ascending else "last"
    )
    by = pdf.groupby(pdf["g"].fillna("<NULL>"), sort=False)
    expect_sum = dict(zip(pdf["k"], by["v"].cumsum() - pdf["v"]))
    expect_cnt = dict(zip(pdf["k"], by.cumcount()))
    got_sum = running_sum(ordered, value="v", group="g", out="rs").collect()
    got_cnt = running_sum(ordered, group="g", out="rs").collect()
    assert {r["k"]: r["rs"] for r in got_sum} == expect_sum
    assert {r["k"]: r["rs"] for r in got_cnt} == expect_cnt
    assert list(got_sum[0].asDict()) == ["k", "g", "v", "rs"]


def test_fixed_n_sample_keeps_null_group(spark):
    """A NULL group is one group, as in row_number() OVER (PARTITION BY
    source ...): the per-group offset must not drop it in a join."""
    from proteus_engine_spark.datapipe.sampling import fixed_n_sample

    rows = [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {r["doc_id"]: r["rank_in_group"] for r in fixed_n_sample(df, 10).collect()}
    df.createOrReplaceTempView("fixed_n_null")
    expect = {
        r["doc_id"]: r["rk"]
        for r in spark.sql(
            "SELECT doc_id, row_number() OVER (PARTITION BY source "
            "ORDER BY md5(CAST(doc_id AS STRING)), doc_id) - 1 AS rk FROM fixed_n_null"
        ).collect()
    }
    assert got == expect and got[4] == 0 and got[3] == 1


# --- sequence packing (running_sum's value case) ---


def test_pack_sequences_small(spark):
    from proteus_engine_spark.datapipe.packing import pack_sequences

    rows = [(1, 5), (2, 3), (3, 4), (4, 10), (5, 2)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "n", "doc_id", ctx_len=8, n_partitions=3)
    got = {r["doc_id"]: (r["start_offset"], r["seq_bin"]) for r in out.collect()}
    # stream: d1 [0,5) d2 [5,8) d3 [8,12) d4 [12,22) d5 [22,24)
    assert got == {1: (0, 0), 2: (5, 0), 3: (8, 1), 4: (12, 1), 5: (22, 2)}


def test_pack_sequences_partition_invariance(spark):
    """Values must not depend on how the range split lands."""
    from proteus_engine_spark.datapipe.packing import pack_sequences

    rows = [(i, (i * 7) % 13 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    a = pack_sequences(df, "n", "doc_id", ctx_len=16, n_partitions=1)
    b = pack_sequences(df, "n", "doc_id", ctx_len=16, n_partitions=7)
    ra = sorted((r["doc_id"], r["start_offset"], r["seq_bin"]) for r in a.collect())
    rb = sorted((r["doc_id"], r["start_offset"], r["seq_bin"]) for r in b.collect())
    assert ra == rb
    # last doc's start offset == total tokens before it
    assert ra[-1][1] == sum(n for _i, n in rows[:-1])


def test_pack_sequences_rejects_bad_ctx(spark):
    from proteus_engine_spark.datapipe.packing import pack_sequences

    df = spark.createDataFrame([(1, 1)], "doc_id long, n long")
    with pytest.raises(ValueError, match="ctx_len"):
        pack_sequences(df, "n", "doc_id", ctx_len=0)


@pytest.mark.skipif(not HAS_HYPOTHESIS, reason="hypothesis not installed")
@settings(deadline=None, max_examples=12)
@given(
    sizes=st_.lists(st_.integers(min_value=0, max_value=40), min_size=1, max_size=40),
    n_parts=st_.integers(min_value=1, max_value=8),
    ctx=st_.integers(min_value=1, max_value=64),
)
def test_pack_sequences_properties(spark, sizes, n_parts, ctx):
    """Randomized packing invariants at any range split: offsets are the
    exclusive prefix sums in key order, bins are offset DIV ctx, and the
    layout is gapless (each next offset = previous offset + size)."""
    from proteus_engine_spark.datapipe.packing import pack_sequences

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = sorted(
        (r["doc_id"], r["start_offset"], r["seq_bin"])
        for r in pack_sequences(df, "n", "doc_id", ctx_len=ctx, n_partitions=n_parts).collect()
    )
    expect_off = 0
    for (i, s), (doc, off, b) in zip(rows, out):
        assert doc == i and off == expect_off and b == off // ctx
        expect_off += s


def test_pack_sequences_plan_parallel_prefix_sum(spark):
    """The heavy window must partition by __pid__ (parallel), never run
    as one global-sort window; offsets arrive by broadcast; no Python
    node anywhere."""
    from proteus_engine_spark.datapipe.packing import pack_sequences

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n")
    )
    plan = _plan(pack_sequences(df, "n", "doc_id", n_partitions=8))
    assert "windowspecdefinition(__pid__" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
