"""Oracle gates for the 'cold surface': operators implemented and
pytest-covered since round 1 but never driver-verified — sortPartition
(DataSet.java:1401), fromCollection (ExecutionEnvironment.java:600),
writeAsCsv/readCsvFile round-trip (DataSet.java:1564 /
ExecutionEnvironment.java:391), insertInto (table.scala:876).

Each query routes real data THROUGH the operator so the oracle check
fails if the operator's semantics break (e.g. the sortPartition gate
extracts per-key leaders from the partition-local sort order — an unsorted
partition yields wrong prices, not just a reordered result).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proteus_engine_spark.queries.exact import dsum
from proteus_engine_spark.queries.registry import register
from proteus_engine_spark.sources import load_table
from proteus_engine_spark.sources.sinks import insert_into, write_csv
from proteus_engine_spark.sources.tables import from_rows, read_csv
from proteus_engine_spark.operators.sort import sort_partition
from proteus_engine_spark.streaming.sources import scratch_tmp


def _scratch(tag: str, sf_dir: str) -> str:
    """Per-invocation scratch directory for round-trip gates.

    Hermetic by construction: every call returns a fresh, unique directory
    (`streaming.sources.scratch_tmp`), so a concurrent oracle run, a stale
    file from an earlier overwrite, or two Spark applications sharing the
    repo can never read each other's sink output — the round-6 gate flake
    was exactly a fixed shared path. The directory is NOT removed here
    because the returned DataFrame reads it lazily; `scratch_tmp` removes
    stale ones (>30 min old) on a later call.
    """
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return scratch_tmp(f"{tag}_{sf_tag}_")


@register(
    "sort_partition_leaders",
    oracle="""
    SELECT l_suppkey, CAST(MAX(l_extendedprice) AS DOUBLE) AS top_price
    FROM lineitem GROUP BY l_suppkey
    """,
    tags=("sort", "surface"),
)
def sort_partition_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortPartition gate (DataSet.sortPartition, DataSet.java:1401): hash-
    repartition on l_suppkey, partition-LOCAL sort by (key, price desc) —
    no global exchange — then a single forward pass per partition keeps
    each key's first row. The kept price equals MAX(price) iff the
    partition-local sort actually ordered the rows, so the oracle verifies
    the sort itself, not just row retention. This repartition+sortPartition
    +forward-scan shape is the reference's combineGroup-with-sorted-input
    pattern; at 100 TB it is one shuffle of (key, price) pairs and a
    streaming pass — no window state."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.col("l_extendedprice").cast("double").alias("top_price")
    )
    n_parts = spark.sparkContext.defaultParallelism
    parts = sort_partition(
        li.repartition(n_parts, "l_suppkey"), "l_suppkey", "top_price", ascending=False
    )

    def first_per_key(batches):
        # Arrow may split one partition into several batches; a key's run
        # can straddle the boundary, so carry the last-seen key across.
        last = None
        for pdf in batches:
            out = pdf.drop_duplicates("l_suppkey")
            if last is not None:
                out = out[out["l_suppkey"] != last]
            if len(pdf):
                last = pdf["l_suppkey"].iloc[-1]
            yield out

    return parts.mapInPandas(first_per_key, schema="l_suppkey long, top_price double")


@register(
    "from_rows_dim_join",
    oracle="""
    WITH tiers(r_name, tier) AS (
      VALUES ('AFRICA', 'south'), ('AMERICA', 'west'), ('ASIA', 'east'),
             ('EUROPE', 'north'), ('MIDDLE EAST', 'south')
    )
    SELECT t.tier, COUNT(*) AS n_nations
    FROM region r JOIN tiers t ON r.r_name = t.r_name
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY t.tier
    """,
    tags=("source", "surface"),
)
def from_rows_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fromCollection gate (ExecutionEnvironment.fromCollection,
    ExecutionEnvironment.java:600): a literal in-memory dimension becomes a
    DataFrame and joins the parquet tables. Local collections are
    broadcast-sized by definition — Catalyst plans a broadcast join, no
    shuffle on the fact side."""
    tiers = from_rows(
        spark,
        [("AFRICA", "south"), ("AMERICA", "west"), ("ASIA", "east"),
         ("EUROPE", "north"), ("MIDDLE EAST", "south")],
        schema="r_name string, tier string",
    )
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        region.join(F.broadcast(tiers), "r_name")
        .join(nation, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "csv_roundtrip_agg",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("sink", "source", "surface"),
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """writeAsCsv → readCsvFile round-trip gate (DataSet.writeAsCsv,
    DataSet.java:1564; ExecutionEnvironment.readCsvFile, :391): supplier
    goes out through the CSV sink and back in through the CSV source with
    an explicit schema (schema inference would add a second full scan),
    then aggregates. Values survive the text round-trip bit-for-bit because
    acctbal re-enters as decimal before summing."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    path = _scratch("csv_supplier", sf_dir)
    write_csv(sup, path, mode="overwrite")
    back = read_csv(
        spark, path, schema="s_suppkey long, s_nationkey long, s_acctbal double"
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@register(
    "zip_with_index_ranked",
    oracle="""
    SELECT row_number() OVER (ORDER BY n_nationkey) - 1 AS idx, n_name
    FROM nation
    """,
    tags=("source", "surface"),
)
def zip_with_index_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSetUtils.zipWithIndex gate (DataSetUtils.java:68): contiguous
    0-based indices assigned in partition order — after an orderBy the
    partition order IS the sort order, so the index equals the global rank
    and the oracle can state it as row_number()-1. Two-phase per-partition
    counting (RDD.zipWithIndex), no single-task bottleneck."""
    from proteus_engine_spark.operators.partitioning import zip_with_index

    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return zip_with_index(nation.orderBy("n_nationkey")).select("idx", "n_name")


@register(
    "zip_with_index_bulk",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
      FROM lineitem
    )
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(idx) AS BIGINT) AS idx_sum,
           MIN(idx) AS idx_min, MAX(idx) AS idx_max
    FROM t GROUP BY l_returnflag
    """,
    tags=("surface", "bench"),
)
def zip_with_index_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zipWithIndex at table scale (DataSetUtils.java:68) — the 25-row
    nation gate can't see a scale regression, so this one pushes the whole
    lineitem table through the two-phase index assignment and folds the
    indices into per-flag (count, sum, min, max). The sum is exquisitely
    order-sensitive: any dropped/duplicated/misassigned index shifts it.
    Sort keys (l_orderkey, l_linenumber) form the table's primary key, so
    the rank oracle has no tie ambiguity."""
    from proteus_engine_spark.operators.partitioning import zip_with_index

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    indexed = zip_with_index(li.orderBy("l_orderkey", "l_linenumber"))
    return indexed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("idx").alias("idx_sum"),
        F.min("idx").alias("idx_min"),
        F.max("idx").alias("idx_max"),
    )


@register(
    "insert_into_append",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders WHERE o_totalprice > 100000
    GROUP BY o_orderstatus
    """,
    tags=("sink", "surface"),
)
def insert_into_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insertInto gate (Table.insertInto, table.scala:876): the qualifying
    orders are split on orderkey parity; the even half seeds a managed
    parquet table (overwrite — idempotent re-runs), the odd half arrives
    via INSERT INTO append, and the union is read back and aggregated. The
    oracle sees the whole set, so a dropped or duplicated insert fails the
    gate. EXTERNAL table at a scratch location: the in-memory catalog dies
    with the session but the warehouse directory would not, and a managed
    saveAsTable in a fresh session then dies with LOCATION_ALREADY_EXISTS —
    the external path + drop-first sequence is re-run-safe."""
    tbl = "insert_into_gate_orders"
    path = _scratch("insert_into_orders", sf_dir)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    base = orders.select("o_orderkey", "o_orderstatus")
    even = base.filter(F.col("o_orderkey") % 2 == 0)
    odd = base.filter(F.col("o_orderkey") % 2 == 1)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    even.write.mode("overwrite").option("path", path).saveAsTable(tbl)
    insert_into(odd, tbl)
    return spark.table(tbl).groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


from proteus_engine_spark.functions.udf import (  # noqa: E402
    AggregateFunction,
    ScalarFunction,
    register_function,
)


class _FlagStatusBucket(ScalarFunction):
    """Vectorized ScalarFunction (ScalarFunction.scala:47): Arrow-batched
    two-argument eval over pandas Series — the pandas_udf fast path, not
    a row loop."""

    vectorized = True
    return_type = "string"

    def eval(self, flag, status):
        return (flag + "/" + status).str.lower()


class _WeightedAvg(AggregateFunction):
    """AggregateFunction (AggregateFunction.scala:97) with the
    createAccumulator/accumulate/getValue contract. Accumulates exact
    Python integers (quantities are integral), so the result is
    order-independent and hash-stable against the SQL mirror
    SUM(x*w)/SUM(w)."""

    return_type = "double"

    def create_accumulator(self):
        return (0, 0)

    def accumulate(self, acc, x, w):
        return (acc[0] + int(x) * int(w), acc[1] + int(w))

    def get_value(self, acc):
        return None if acc[1] == 0 else acc[0] / acc[1]


class _CountAgg(AggregateFunction):
    """Trivial counting AggregateFunction: Spark forbids mixing a
    GROUPED_AGG pandas UDF with built-in aggregates in one aggregation
    (INVALID_PANDAS_UDF_PLACEMENT), so the gate's row count comes from a
    second registered UDAF instead of COUNT(*)."""

    return_type = "long"

    def create_accumulator(self):
        return 0

    def accumulate(self, acc, *_args):
        return acc + 1

    def get_value(self, acc):
        return acc


@register(
    "udf_scalar_weighted",
    oracle="""
    SELECT lower(l_returnflag || '/' || l_linestatus) AS bucket,
           CAST(SUM(l_quantity * l_linenumber) AS DOUBLE) / SUM(l_linenumber)
             AS wavg_qty,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY bucket
    """,
    tags=("udf", "surface"),
)
def udf_scalar_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-function registration gate (TableEnvironment.registerFunction,
    TableEnvironment.scala:325): lineitem routes through BOTH halves of the
    extension API from SQL — a registered vectorized ScalarFunction builds
    the group key and a registered AggregateFunction (GROUPED_AGG
    pandas_udf; Spark places partial/final aggregation itself) computes a
    linenumber-weighted average quantity. The oracle recomputes both in
    plain SQL, so a broken eval, a mis-registered return type, or a
    dropped accumulator state fails the gate."""
    register_function(spark, "flag_status_bucket", _FlagStatusBucket())
    register_function(spark, "wavg_qty", _WeightedAvg())
    register_function(spark, "udf_count", _CountAgg())
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_udf_gate")
    return spark.sql(
        """
        SELECT flag_status_bucket(l_returnflag, l_linestatus) AS bucket,
               wavg_qty(l_quantity, l_linenumber) AS wavg_qty,
               udf_count(l_linenumber) AS n_items
        FROM lineitem_udf_gate
        GROUP BY flag_status_bucket(l_returnflag, l_linestatus)
        """
    )


class _DiscountTier(ScalarFunction):
    """Deliberately does NOT set ``vectorized``: proves the DEFAULT
    subclass rides the Arrow pandas_udf path (eval receives pandas
    Series; the physical plan carries ArrowEvalPython, never
    BatchEvalPython)."""

    return_type = "string"

    def eval(self, discount):
        import pandas as pd

        return pd.cut(
            discount,
            bins=[-1.0, 0.02, 0.06, 1.0],
            labels=["low", "mid", "high"],
        ).astype(str)


@register(
    "udf_vectorized_default",
    oracle="""
    SELECT CASE WHEN l_discount <= 0.02 THEN 'low'
                WHEN l_discount <= 0.06 THEN 'mid'
                ELSE 'high' END AS tier,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY tier
    """,
    tags=("udf", "surface"),
)
def udf_vectorized_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-by-default ScalarFunction gate (ScalarFunction.scala:47): a
    subclass that never mentions ``vectorized`` must land on the
    pandas_udf plan — the query asserts the physical plan contains no
    row-at-a-time BatchEvalPython node before returning, then the oracle
    checks the tiering values themselves."""
    li = load_table(spark, sf_dir, "lineitem")
    tier = _DiscountTier().to_udf()
    out = (
        li.groupBy(tier(F.col("l_discount").cast("double")).alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("l_quantity", "sum_qty"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "BatchEvalPython" in plan:
        raise AssertionError("default ScalarFunction took the row-UDF path")
    return out


@register(
    "jdbc_roundtrip_agg",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    tags=("source", "sink", "surface", "jdbc"),
)
def jdbc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC connector gate (flink-connectors/flink-jdbc
    JDBCInputFormat/JDBCOutputFormat): supplier goes out through the
    batched JDBC sink into an embedded Derby database (the one JDBC
    engine shipped inside Spark's own jars) and back in through a
    PARTITIONED JDBC read — 4 range-predicated queries, the reference's
    NumericBetweenParametersProvider split — then aggregates. A broken
    type mapping, a dropped batch, or a range split that loses/duplicates
    boundary rows fails the oracle."""
    from proteus_engine_spark.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        read_jdbc,
        write_jdbc,
    )

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", F.col("s_acctbal").cast("double").alias("s_acctbal")
    )
    url = f"jdbc:derby:{_scratch('jdbc_db', sf_dir)}/db;create=true"
    write_jdbc(
        sup, mode="overwrite", url=url, table="supplier_rt",
        driver=DERBY_EMBEDDED_DRIVER, batch_size=1000,
    )
    back = read_jdbc(
        spark, url=url, table="supplier_rt", driver=DERBY_EMBEDDED_DRIVER,
        partition_column="s_suppkey", lower_bound=0, upper_bound=1_000_000,
        num_partitions=4,
    )
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@register(
    "text_roundtrip_initials",
    oracle="""
    SELECT substr(p_name, 1, 1) AS initial, COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS BIGINT) AS total_len
    FROM part GROUP BY initial
    """,
    tags=("source", "sink", "surface"),
)
def text_roundtrip_initials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readTextFile/writeAsText gate (ExecutionEnvironment.readTextFile,
    ExecutionEnvironment.java:391-ish overloads; DataSet.writeAsText,
    DataSet.java:1492): part names are written as raw text lines, read
    back through the line source, and aggregated by initial with a length
    checksum — a mangled line (lost newline, encoding slip, truncation)
    changes total_len or the group counts and fails the oracle."""
    from proteus_engine_spark.sources.sinks import write_text
    from proteus_engine_spark.sources.tables import read_text

    path = _scratch("text_part", sf_dir)
    part = load_table(spark, sf_dir, "part").select(F.col("p_name").cast("string"))
    write_text(part, path, mode="overwrite")
    back = read_text(spark, path)
    return back.groupBy(F.substring("value", 1, 1).alias("initial")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("value")).alias("total_len"),
    )


@register(
    "primitives_roundtrip_agg",
    oracle="""
    WITH v AS (SELECT CASE WHEN l_linenumber = 7 THEN NULL ELSE l_orderkey END AS value
               FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(value) AS BIGINT) AS n_parsed,
           CAST(SUM(value) AS BIGINT) AS total,
           CAST(MIN(value) AS BIGINT) AS lo,
           CAST(MAX(value) AS BIGINT) AS hi
    FROM v
    """,
    tags=("source", "surface"),
)
def primitives_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readFileOfPrimitives gate (ExecutionEnvironment.readFileOfPrimitives,
    ExecutionEnvironment.java:466): lineitem order keys go out through the
    text sink as one primitive token per line — with every 7th line number
    deliberately mangled into a non-numeric token — and come back through
    read_file_of_primitives("long"). The permissive try_cast maps mangled
    tokens to NULL (the reference's primitive parsers tolerate malformed
    records the same way), which the aggregate proves by counting lines vs
    parsed values; sum/min/max checksum the parsed payload."""
    from proteus_engine_spark.sources.sinks import write_text
    from proteus_engine_spark.sources.tables import read_file_of_primitives

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(
            F.col("l_linenumber") == 7,
            F.concat(F.lit("x"), F.col("l_orderkey").cast("string")),
        )
        .otherwise(F.col("l_orderkey").cast("string"))
        .alias("value")
    )
    path = _scratch("prim_lineitem", sf_dir)
    write_text(li, path, mode="overwrite")
    back = read_file_of_primitives(spark, path, "long")
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("value").alias("n_parsed"),
        F.sum("value").alias("total"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )


@register(
    "rich_udf_broadcast_join",
    oracle="""
    SELECT n.n_name AS nation, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    tags=("udf", "rich", "surface"),
)
def rich_udf_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-function gate (RichFunction.open + RuntimeContext
    .getBroadcastVariable, RuntimeContext.java:183; withBroadcastSet on
    DataSet operators): the nation name lookup rides a BROADCAST VARIABLE
    into a vectorized UDF — the reference's map-with-broadcast-set shape —
    and a counter accumulator tallies processed rows worker-side. The
    oracle is the equivalent join; a stale/partial broadcast value would
    mis-map nations and fail it. The accumulator total is asserted
    against the row count after the action (driver-merged, like
    getLongCounter)."""
    from proteus_engine_spark.functions.rich import runtime_context

    nation_map = {
        r["n_nationkey"]: r["n_name"]
        for r in load_table(spark, sf_dir, "nation").collect()
    }
    ctx = runtime_context(
        spark, broadcasts={"nations": nation_map}, counters=["rows_seen"]
    )
    counter = ctx._counters["rows_seen"]
    handle = ctx._broadcasts["nations"]

    @F.pandas_udf("string")
    def nation_name(nk: pd.Series) -> pd.Series:
        counter.add(len(nk))
        m = handle.value
        return nk.map(m)

    cust = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    out = (
        cust.withColumn("nation", nation_name(F.col("c_nationkey")))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
        )
    )
    # force one action so the accumulator check is part of the gate; the
    # returned (tiny) frame is the checkpointed result
    out = out.localCheckpoint(eager=True)
    n_rows = cust.count()
    if counter.value % n_rows != 0 or counter.value == 0:
        # >= 1 full pass, in whole multiples (Spark may recompute a stage)
        raise AssertionError(
            f"accumulator saw {counter.value} rows, expected a multiple of {n_rows}"
        )
    return out


@register(
    "bucketing_sink_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("sink", "streaming", "surface"),
)
def bucketing_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketingSink gate (flink-connectors/flink-connector-filesystem
    BucketingSink.java + checkpointing — previously pytest-only): the
    events STREAM drains through the checkpointed streaming parquet sink
    partitioned by event_type (partitionBy = the reference's Bucketer),
    and the COMMITTED files are read back as a batch table and
    aggregated against the batch oracle — a lost, duplicated, or
    uncommitted micro-batch fails the count and the decimal sum. Scratch
    dirs are per-invocation (hermetic, see _scratch); exactly-once under
    kill/restart stays pinned by the dedicated pytest."""
    from proteus_engine_spark.sources.sinks import stream_to_parquet
    from proteus_engine_spark.streaming.sources import events_stream

    ev = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    base = _scratch("bucketing_sink", sf_dir)
    q = stream_to_parquet(
        ev, f"{base}/out", f"{base}/ckpt", partition_by=["event_type"]
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    back = spark.read.parquet(f"{base}/out")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


@register(
    "socket_sink_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("sink", "streaming", "surface"),
)
def socket_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """writeToSocket gate (DataStream.writeToSocket — previously
    pytest-only): every event is serialized to one newline-delimited
    line (id,type,cents — cents as an integer string so no float
    formatting rides the wire), drained through the socket SINK into an
    in-process TCP server (the socket SOURCE gate's counterpart,
    resilience_q.socket_text_source_agg serves the other direction), and
    the RECEIVED lines — not the sink's input — are parsed back and
    aggregated against the batch oracle. A dropped, duplicated, or
    truncated line fails the count or the exact cents sum."""
    import socket
    import threading

    from proteus_engine_spark.sources.sinks import stream_to_socket
    from proteus_engine_spark.streaming.sources import events_stream

    expected = load_table(spark, sf_dir, "events").count()
    received: list[str] = []
    ready = threading.Event()
    done = threading.Event()
    port_holder: dict = {}

    def server():
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        port_holder["port"] = srv.getsockname()[1]
        srv.listen(1)
        ready.set()
        conn, _ = srv.accept()
        conn.settimeout(60)
        buf = b""
        try:
            while not done.is_set():
                try:
                    chunk = conn.recv(65536)
                except socket.timeout:
                    break
                if not chunk:
                    break
                buf += chunk
                while b"\n" in buf:
                    line, buf = buf.split(b"\n", 1)
                    received.append(line.decode())
                if len(received) >= expected:
                    done.set()
        finally:
            conn.close()
            srv.close()

    t = threading.Thread(target=server, daemon=True)
    t.start()
    if not ready.wait(10):
        raise RuntimeError("socket sink gate: server did not come up")

    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.round(F.col("value") * 100, 0).cast("long").cast("string"),
    ).alias("value")
    ev = events_stream(spark, sf_dir).select(line)
    q = stream_to_socket(ev, "127.0.0.1", port_holder["port"])
    try:
        q.processAllAvailable()
        done.wait(60)
    finally:
        done.set()
        q.stop()
        q.awaitTermination()

    parsed = spark.createDataFrame(
        [tuple(s.split(",")) for s in received],
        "event_id string, event_type string, cents string",
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("cents").cast("long")) / 100.0).alias("total_value"),
    )


@register(
    "avro_roundtrip_agg",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("sink", "source", "surface", "avro"),
)
def avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro format round-trip gate (flink-formats/flink-avro
    AvroOutputFormat.java:87 / AvroInputFormat.java:68) — customer goes
    out through the pure-Python Avro container sink (deflate codec, one
    file per partition via mapInPandas) and back in through the
    binaryFile + mapInPandas decoder, then aggregates; acctbal re-enters
    as decimal before summing, so the binary round-trip is exact. The
    spark-avro jar stays unnecessary: the codec is ~200 lines of the
    Avro 1.11 spec over stdlib struct/zlib/json (sources/avro_codec.py),
    and since r14 it is byte-level cross-validated in both directions
    against the reference Apache Avro implementation (avro-1.12.1.jar
    inside Spark's JVM — tests/test_avro_interop.py)."""
    from proteus_engine_spark.sources.avro_codec import read_avro, write_avro

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _scratch("avro_customer", sf_dir)
    write_avro(cust, path, codec="deflate")
    back = read_avro(
        spark, path, "c_custkey long, c_mktsegment string, c_acctbal double"
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@register(
    "orc_roundtrip_agg",
    oracle="""
    SELECT p_type, COUNT(*) AS n, CAST(SUM(p_size) AS BIGINT) AS total_size
    FROM part GROUP BY p_type
    """,
    tags=("sink", "source", "surface", "orc"),
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip gate (the reference's flink-orc format
    surface): part goes out through the native ORC sink and back in
    through the native ORC source, then aggregates on exact integers.
    The oracle never reads ORC — it states the expected aggregate from
    the shared parquet input, so a lossy round-trip (dropped rows,
    mangled types) fails the hash. Predicate pushdown and column pruning
    against ORC are native Catalyst behaviors, same as parquet."""
    from proteus_engine_spark.sources.sinks import write_orc
    from proteus_engine_spark.sources.tables import read_orc

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    path = _scratch("orc_part", sf_dir)
    write_orc(part, path)
    back = read_orc(spark, path)
    return back.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p_size").cast("bigint").alias("total_size"),
    )


@register(
    "json_roundtrip_agg",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
    tags=("sink", "source", "surface", "json"),
)
def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited JSON round-trip gate: nation out through the native
    JSON sink, back in with an EXPLICIT schema (inference would add a
    second full scan — the same discipline as the CSV gate), then a
    deterministic string aggregate. Exercises the row-format text path
    the reference serves with its JSON (de)serialization schemas."""
    from proteus_engine_spark.sources.sinks import write_json
    from proteus_engine_spark.sources.tables import read_json

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = _scratch("json_nation", sf_dir)
    write_json(nation, path)
    back = read_json(
        spark, path, schema="n_nationkey long, n_name string, n_regionkey long"
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names"),
    )
