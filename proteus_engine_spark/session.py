"""SparkSession factory tuned for both local testing and cluster scale.

The reference engine (Flink 1.4) hand-manages memory segments, spilling
sort/hash operators and a cost-based batch optimizer
(/root/reference/flink-optimizer/src/main/java/org/apache/flink/optimizer/Optimizer.java).
On Spark all of that is Tungsten + Catalyst + AQE; the session below turns
the right knobs on so Catalyst can do its job:

- AQE (runtime re-planning, partition coalescing, skew-join splitting) —
  replaces Flink's static cost-based ship-strategy choice with runtime stats.
- UTC session timezone — deterministic timestamp semantics (and matches the
  DuckDB oracle, which is UTC-naive).
- Arrow — every Python-side batch crossing (pandas UDFs, toPandas) is
  columnar, the analogue of the reference keeping records serialized in
  MemorySegments instead of boxing.
- shuffle partitions default to the local core count; on a real cluster this
  is overridden (AQE coalescing makes the initial number far less critical).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_session(
    app_name: str = "proteus_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a cluster, pass ``master=None`` and let spark-submit decide; locally
    defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep file split size at 128MB so a 100TB read yields ~800k tasks,
        # the right granularity for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash join when its size conditions
        # hold (guide-recommended): it skips both sort passes of
        # sort-merge and only applies when a build side fits per-partition
        # memory, so sort-merge remains the fallback for huge-both-sides
        # joins. NOTE (r17 correction): on the local bench this flag is
        # PLAN-NEUTRAL — a conf-toggle comparison over every SMJ-bearing
        # headline query produced byte-identical plans (modulo lambda ids),
        # and the executed final adaptive plans still choose sort-merge
        # (plan-time size estimates exceed the local-hash-map bound, and
        # AQE's cost evaluator keeps a cost-equal plan). Kept for the
        # production case the guide targets: a cluster-side join whose
        # build side fits per-partition memory skips two sort passes.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Parquet TIMESTAMP(NANOS) (the events table) has no Spark type;
        # read as long and convert in the source layer (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # PySpark 4's DataFrame debugging wraps EVERY DataFrame method to
        # capture the Python call site for error enrichment: per call it
        # pays a conf-get RPC, a Python stack walk, and an origin set+clear
        # RPC pair (~3 py4j round trips + frame inspection). Interleaved
        # A/B (r17 opt round): pure-DSL query construction halves with it
        # off (dedup_minhash_lsh build 2.60s -> 1.09s, graph_jaccard
        # 2.15s -> 0.95s). Worth it for an engine: errors lose only the
        # user-code call-site annotation, never the actual exception.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Stream checkpoints (offset/commit/source logs, state-store delta
        # and checksum files) go through Hadoop's FileSystem API. Without
        # the native Hadoop library, the default FileContext-based manager
        # makes the local filesystem start a process per file operation
        # (`readlink` on every rename, `chmod` on every create). On a 4-vCPU
        # VM, one timed perfbench pass started 1,520 processes (24-batch
        # enrichment) and 2,395 (stateful stream) with it, 351 and 573 with
        # this one; state commits fell from 338 to 21 ms per batch. This
        # manager does the same temp-write + rename and refuses an existing
        # destination the same way (a FileAlreadyExistsException subclass).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
