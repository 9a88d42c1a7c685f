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
- Python workers re-read no unchanged zip archive per task. PySpark's
  worker calls ``importlib.invalidate_caches()`` at the start of every
  task, and CPython 3.11's ``zipimporter.invalidate_caches`` then re-reads
  the whole directory of every zip on ``sys.path`` it has imported from:
  one importer per imported ``pyspark.zip`` package (~5 ms each on a
  4-vCPU VM), two each for the Spark core jar (~27 ms a read) and the
  py4j zip: 16 reads and ~200 ms of CPU per task whatever its row count.
  CPython 3.12 made the invalidation lazy (gh-103200); below it,
  ``_stamp_zip_invalidation`` (installed when this module is imported,
  which every worker that unpickles engine code does through the package
  ``__init__``) re-reads an archive only when its file changed. It is deliberately not a custom ``spark.python.daemon.module``,
  which would break every Python UDF whenever this package is not
  importable when the daemon starts. perfbench ``stateful_stream`` on a
  4-vCPU VM, 10 alternating pairs against the previous tree: ``cpu_s``
  12.14 -> 6.58 s median (10/10 pairs lower); a traced run moved Python
  worker CPU 7.61 -> 1.92 s per pass with the same jobs and tasks.
"""

from __future__ import annotations

import functools
import os
import sys

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _stamp_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's directory
    only when the archive changed since it was last read (Python < 3.12).

    The change is told by the ``(st_ino, st_size, st_mtime_ns,
    st_ctime_ns)`` stamp, taken before each read, so a rewrite during a
    read is seen at the next invalidation. An unchanged archive gets the
    directory of its last read back; a changed, deleted or never-stamped
    one goes through CPython's own method (a deleted archive empties the
    importer). Installed once: a second call, or a reload of this module,
    finds the marker and leaves the method as it is.
    """
    if sys.version_info >= (3, 12):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamped", False):
        return
    last_read: dict[str, tuple[tuple[int, int, int, int] | None, dict]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        except OSError:
            stamp = None
        seen = last_read.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        last_read[self.archive] = (stamp, self._files)

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stamp_zip_invalidation()


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
